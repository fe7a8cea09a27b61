package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.DecimalSumAgg

/** Aggregation surface (SURVEY.md §2.4 X5–X7, X15).
  *
  * The reference has no aggregation at all (SURVEY.md §2.3) — this is the
  * extension surface mandated by BASELINE.json's north star.
  *
  * Determinism & scale notes:
  *   - All money/quantity sums are computed over DECIMAL, not DOUBLE: decimal
  *     addition is associative, so map-side partial aggregation + any merge
  *     order yields identical results — required for the DuckDB oracle
  *     hash-compare and for reproducibility on a real cluster. Final columns
  *     are cast back to DOUBLE.
  *   - `groupBy.agg` compiles to HashAggregate(partial) → shuffle →
  *     HashAggregate(final): the shuffle carries only
  *     |groups| × |partitions| rows, which is what makes this 100 TB-safe.
  *   - `approx_count_distinct` (HLL++) is the constant-memory scale path for
  *     distinct counts; the exact `countDistinct` forces a per-key shuffle
  *     and is kept for the oracle contract.
  */
object Aggregates {

  /** X5: TPC-H Q1-shaped grouped aggregation (sum/avg/count). */
  def qAggGroup(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        // round exact decimal to scale 2 BEFORE the double cast: at high
        // magnitude DuckDB's decimal->double (int128 / 10^scale in double)
        // differs from Java's correctly-rounded conversion in the last ULP;
        // at scale 2 both divide a <2^53 integer by 100 -> identical
        round(sum(dec2(col("l_extendedprice")) *
          (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))), 2)
          .cast("double").as("sum_disc_price"),
        (sum(dec2(col("l_quantity"))).cast("double") / count(lit(1)))
          .as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** X6: exact distinct counts (shuffle-heavy; see qApproxDistinct for the
    * scale path). */
  def qDistinct(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"),
      count(lit(1)).as("n_rows"))

  /** X6: HLL++ approximate distinct — constant memory per group, single
    * shuffle of sketches, the 100 TB answer to COUNT(DISTINCT). rsd=0.02:
    * 2% relative error needs 1/16th the registers of 1% (m ∝ 1/rsd²) and
    * measured 2× faster end-to-end — the right default when the consumer
    * is a cardinality estimate, with rsd a caller knob when it isn't.
    * Non-oracle (sketch internals are engine-specific); driver records
    * rows-only; OpsSpec bounds the error at 5%. */
  def qApproxDistinct(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  /** X7: ROLLUP grouping sets. Null group keys from the rollup are projected
    * to an 'ALL' sentinel so ordering semantics (Spark NULLS FIRST vs DuckDB
    * NULLS LAST) can't skew the hash-compare. */
  def qRollup(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"))
      .orderBy("rf", "ls")

  /** X15: custom typed Aggregator — exact-decimal revenue per flag. */
  def qCustomAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(round(DecimalSumAgg.decimalSum(
        dec2(col("l_extendedprice")) *
          (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))), 2)
        .cast("double").as("revenue"))
      .orderBy("l_returnflag")

  /** X6 third tier: KMV sketch (TypedImperativeAggregate with a mutable
    * object buffer + explicit serialize/merge — the HLL contract).
    * Deterministic hash-based estimate; non-oracle (sketch internals),
    * accuracy pinned by ScalaTest against the exact counts. */
  def qKmvDistinct(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        graft.functions.KmvDistinct.kmvDistinct(xxhash64(col("l_partkey")))
          .as("kmv_parts"),
        graft.functions.KmvDistinct.kmvDistinct(xxhash64(col("l_orderkey")))
          .as("kmv_orders"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  /** Grouped collection: per-customer sorted order list, emitted as a
    * deterministic CSV string (array columns compare ambiguously across
    * engines' client stacks; a canonical string does not). Scale note:
    * collect_list materializes the group in memory — fine for bounded
    * groups (orders per customer), wrong for unbounded ones. */
  def qCollect(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_custkey")
      .agg(
        count(lit(1)).as("n_orders"),
        array_join(transform(sort_array(collect_list(col("o_orderkey"))),
          x => x.cast("string")), ",").as("orders_csv"))
      .orderBy("o_custkey")

  /** Statistical moments from EXACT decimal component sums: built-in
    * stddev/corr use Welford-style streaming updates whose result depends
    * on accumulation order (nondeterministic under partitioning and
    * engine-specific). Here Σx, Σx², Σxy are exact decimals — associative,
    * any partitioning — rounded to integers (< 2^53, exactly double-
    * representable), and the variance/correlation formulas are evaluated
    * with the identical expression tree in both engines, so every IEEE
    * operation matches bit for bit. */
  def qStatsMoments(s: SparkSession, d: String): DataFrame = {
    val x = dec2(col("l_extendedprice"))
    val y = dec2(col("l_quantity"))
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(sum(x), 2).cast("double").as("sx"),
        round(sum(y), 2).cast("double").as("sy"),
        round(sum(x * x), 0).cast("double").as("sxx"),
        round(sum(y * y), 0).cast("double").as("syy"),
        round(sum(x * y), 0).cast("double").as("sxy"))
      .select(col("l_returnflag"), col("n"),
        (col("sx") / col("n")).as("mean_price"),
        ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
          .as("var_price"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))))
          .as("corr_price_qty"))
      .orderBy("l_returnflag")
  }

  /** One-pass table profiling (ANALYZE-style): per column — row count,
    * null count, exact distinct count, min/max — computed in a SINGLE
    * aggregation over one scan (the three exact count-distincts plan as
    * one Expand + partial/final aggregate), then unpivoted to one row
    * per column. The shape that replaces N per-column profiling jobs
    * with one pass at 100 TB; numerics cross as DECIMAL strings so the
    * text rendering is engine-portable. */
  def qProfile(s: SparkSession, d: String): DataFrame = {
    // fanOutSmallScan: the three exact count-distincts expand every row
    // 3× before the partial aggregate, and a single-row-group scan ran
    // that on ONE task (r21 StageProbe: 1.07 s serial); identity at scale
    // parts capped at 4 (r22): the 3× Expand is bandwidth-bound past
    // 4-way — r21's 8-way fan-out ran this key's cpu_ns to ~3-4× for
    // a modest wall gain; the cap keeps the wall at near-serial CPU
    // (A/B'd, see OPTIMIZATION_r22.md)
    val agg = fanOutSmallScan(orders(s, d), maxParts = 4).agg(
      count(lit(1)).as("n"),
      sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("null_s"),
      countDistinct(col("o_orderstatus")).as("nd_s"),
      min(col("o_orderstatus")).as("min_s"),
      max(col("o_orderstatus")).as("max_s"),
      sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L))
        .as("null_p"),
      countDistinct(col("o_orderpriority")).as("nd_p"),
      min(col("o_orderpriority")).as("min_p"),
      max(col("o_orderpriority")).as("max_p"),
      sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("null_t"),
      countDistinct(col("o_totalprice")).as("nd_t"),
      min(dec2(col("o_totalprice"))).cast("string").as("min_t"),
      max(dec2(col("o_totalprice"))).cast("string").as("max_t"))
    agg.select(explode(array(
        struct(lit("o_orderpriority").as("column"), col("n"),
          col("null_p").as("n_null"), col("nd_p").as("n_distinct"),
          col("min_p").as("min_v"), col("max_p").as("max_v")),
        struct(lit("o_orderstatus").as("column"), col("n"),
          col("null_s").as("n_null"), col("nd_s").as("n_distinct"),
          col("min_s").as("min_v"), col("max_s").as("max_v")),
        struct(lit("o_totalprice").as("column"), col("n"),
          col("null_t").as("n_null"), col("nd_t").as("n_distinct"),
          col("min_t").as("min_v"), col("max_t").as("max_v")))).as("r"))
      .select("r.column", "r.n", "r.n_null", "r.n_distinct", "r.min_v",
        "r.max_v")
      .orderBy("column")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_profile"         -> qProfile _,
    "q_stats_moments"   -> qStatsMoments _,
    "q_collect"         -> qCollect _,
    "q_kmv_distinct"    -> qKmvDistinct _,
    "q_agg_group"       -> qAggGroup _,
    "q_distinct"        -> qDistinct _,
    "q_approx_distinct" -> qApproxDistinct _,
    "q_rollup"          -> qRollup _,
    "q_custom_agg"      -> qCustomAgg _,
  )

  val oracleSql: Map[String, String] = Map(
    "q_profile" ->
      """SELECT * FROM (
        |  SELECT 'o_orderstatus' AS "column", CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_null,
        |    CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
        |    MIN(o_orderstatus) AS min_v, MAX(o_orderstatus) AS max_v
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
        |    MIN(o_orderpriority), MAX(o_orderpriority)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
        |    CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR),
        |    CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
        |  FROM orders)
        |ORDER BY "column"""".stripMargin,
    "q_stats_moments" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
        |         AS DOUBLE) AS sx,
        |    CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2)
        |         AS DOUBLE) AS sy,
        |    CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                   CAST(l_extendedprice AS DECIMAL(18,2))), 0)
        |         AS DOUBLE) AS sxx,
        |    CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
        |                   CAST(l_quantity AS DECIMAL(18,2))), 0)
        |         AS DOUBLE) AS syy,
        |    CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                   CAST(l_quantity AS DECIMAL(18,2))), 0)
        |         AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  (sx / n) AS mean_price,
        |  ((sxx - sx * sx / n) / (n - 1)) AS var_price,
        |  ((n * sxy - sx * sy) /
        |   sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
        |    AS corr_price_qty
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "q_collect" ->
      """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  string_agg(CAST(o_orderkey AS VARCHAR), ','
        |             ORDER BY o_orderkey) AS orders_csv
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q_agg_group" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_distinct" ->
      """SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM lineitem""".stripMargin,
    "q_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q_custom_agg" ->
      """SELECT l_returnflag,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
  )
}
