package graft.operators

import graft.{GraftQuery, QueryGroup, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** SURVEY.md §2-E: window functions (ops 37–43).
  *
  * SAS semantics covered: BY-group FIRST./LAST. flags, PROC RANK (+GROUPS=),
  * LAG()/DIF(), RETAIN running totals, rolling means, ratio-to-group-total,
  * top-k per group.
  *
  * 100 TB notes: each query is ONE shuffle on the partition key, then
  * per-partition sort — the scalable shape (SAS's PROC SORT + data-step
  * pass, parallelized). Running/moving double sums use the Det decimal
  * capture: engines disagree on accumulation order inside window frames
  * (Spark re-scans frames; DuckDB uses segment trees), so exact decimal
  * addition is what makes results reproducible — here and across cluster
  * re-runs. Skewed partition keys (one user = 1% of events) are the real
  * scale risk for windows; mitigate upstream via key-salting two-phase
  * aggregation where the analysis allows.
  */
object Windows extends QueryGroup {

  import graft.Det

  /** op 37 — FIRST.k / LAST.k flags per BY group (user ordered by ts). */
  private val winRowNumberFirstLast = GraftQuery(
    "win_row_number_first_last",
    (s, dir) => {
      val asc  = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val desc = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, dir)
        .withColumn("is_first", (row_number().over(asc) === 1).cast(IntegerType))
        .withColumn("is_last", (row_number().over(desc) === 1).cast(IntegerType))
        .select("event_id", "user_id", "is_first", "is_last")
        .orderBy(col("event_id").asc_nulls_first)
    },
    Some("""
      SELECT event_id, user_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) = 1 AS INTEGER) AS is_first,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1 AS INTEGER) AS is_last
      FROM events
      ORDER BY event_id ASC NULLS FIRST"""))

  /** op 38 — PROC RANK (+GROUPS=4): rank/dense_rank with ties on the raw
    * measure; ntile over a total order (ties broken by key) so bucket
    * assignment is deterministic. */
  private val winRankDenseNtile = GraftQuery(
    "win_rank_dense_ntile",
    (s, dir) => {
      val byPrice = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc_nulls_last)
      val total = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc_nulls_last, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .withColumn("rnk", rank().over(byPrice))
        .withColumn("drnk", dense_rank().over(byPrice))
        .withColumn("quartile", ntile(4).over(total))
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "rnk", "drnk", "quartile")
        .orderBy(col("o_orderkey").asc_nulls_first)
    },
    Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             RANK() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC NULLS LAST) AS rnk,
             DENSE_RANK() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC NULLS LAST) AS drnk,
             NTILE(4) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC) AS quartile
      FROM orders
      ORDER BY o_orderkey ASC NULLS FIRST"""))

  /** op 39 — LAG()/DIF(): previous value and delta per user over time. */
  private val winLagDiff = GraftQuery(
    "win_lag_diff",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, dir)
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("dif", col("value") - lag(col("value"), 1).over(w))
        .select("event_id", "user_id", "value", "prev_value", "dif")
        .orderBy(col("event_id").asc_nulls_first)
    },
    Some("""
      SELECT event_id, user_id, value,
             LAG(value, 1) OVER w AS prev_value,
             value - LAG(value, 1) OVER w AS dif
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      ORDER BY event_id ASC NULLS FIRST"""))

  /** op 40 — RETAIN + sum-statement: running total per user (decimal-exact:
    * cumulative double addition order differs across engines). */
  private val winRunningTotal = GraftQuery(
    "win_running_total",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("running_value", Det.dsum(col("value")).over(w))
        .select("event_id", "user_id", "value", "running_value")
        .orderBy(col("event_id").asc_nulls_first)
    },
    Some("""
      SELECT event_id, user_id, value,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS running_value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY event_id ASC NULLS FIRST"""))

  /** op 41 — rolling mean (7-row window), decimal-exact numerator. */
  private val winMovingAvg = GraftQuery(
    "win_moving_avg",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-6, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("avg7", Det.davg(col("value"), w))
        .select("event_id", "user_id", "value", "avg7")
        .orderBy(col("event_id").asc_nulls_first)
    },
    Some("""
      SELECT event_id, user_id, value,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
               / CAST(COUNT(value) OVER w AS DOUBLE) AS avg7
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      ORDER BY event_id ASC NULLS FIRST"""))

  /** op 42 — ratio-to-group-total without a self-join (the PROC MEANS +
    * MERGE-back idiom collapsed into one window). */
  private val winPctOfGroup = GraftQuery(
    "win_pct_of_group",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      Tables.events(s, dir)
        .withColumn("pct_of_user",
          col("value") / Det.dsum(col("value")).over(w))
        .select("event_id", "user_id", "value", "pct_of_user")
        .orderBy(col("event_id").asc_nulls_first)
    },
    Some("""
      SELECT event_id, user_id, value,
             value / CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id) AS DOUBLE) AS pct_of_user
      FROM events
      ORDER BY event_id ASC NULLS FIRST"""))

  /** op 43 — top-3 orders per customer (sort + FIRST. + counter ≤ k). */
  private val winTopkPerGroup = GraftQuery(
    "win_topk_per_group",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc_nulls_last, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy(col("o_custkey").asc_nulls_first, col("rn").asc)
    },
    Some("""
      SELECT o_custkey, rn, o_orderkey, o_totalprice
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC) AS rn
            FROM orders)
      WHERE rn <= 3
      ORDER BY o_custkey ASC NULLS FIRST, rn ASC"""))

  /** PROC RANK PERCENT / distribution functions: percent_rank and
    * cume_dist (exact integer-ratio doubles, cross-engine identical) plus
    * first/last/nth value over the full group frame. */
  private val winPercentCume = GraftQuery(
    "win_percent_cume",
    (s, dir) => {
      val byPrice = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").asc_nulls_first, col("o_orderkey").asc_nulls_first)
      val full = byPrice.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir)
        .withColumn("pct_rank", percent_rank().over(byPrice))
        .withColumn("cume", cume_dist().over(byPrice))
        .withColumn("cheapest", first(col("o_totalprice")).over(full))
        .withColumn("dearest", last(col("o_totalprice")).over(full))
        .withColumn("second_cheapest", nth_value(col("o_totalprice"), 2).over(full))
        .select("o_orderkey", "o_orderstatus", "o_totalprice",
          "pct_rank", "cume", "cheapest", "dearest", "second_cheapest")
        .orderBy(col("o_orderkey").asc_nulls_first)
    },
    Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             PERCENT_RANK() OVER w AS pct_rank,
             CUME_DIST() OVER w AS cume,
             FIRST_VALUE(o_totalprice) OVER wf AS cheapest,
             LAST_VALUE(o_totalprice) OVER wf AS dearest,
             NTH_VALUE(o_totalprice, 2) OVER wf AS second_cheapest
      FROM orders
      WINDOW w AS (PARTITION BY o_orderstatus
                   ORDER BY o_totalprice ASC NULLS FIRST, o_orderkey ASC NULLS FIRST),
             wf AS (PARTITION BY o_orderstatus
                    ORDER BY o_totalprice ASC NULLS FIRST, o_orderkey ASC NULLS FIRST
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY o_orderkey ASC NULLS FIRST"""))

  /** SAS RETAIN + `IF missing(x) THEN x = held;` — LOCF imputation (last
    * observation carried forward) per BY group: the DATA-step held-variable
    * pattern as an ignoreNulls carry-forward window. Missing values are
    * planted deterministically (every 7th event) so the oracle recomputes
    * the identical fill; rows before the group's first non-missing stay
    * null (SAS semantics — RETAIN has nothing to hold yet). */
  private val winLocfImpute = GraftQuery(
    "win_locf_impute",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("v_miss",
          when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
        .withColumn("v_filled", last(col("v_miss"), ignoreNulls = true).over(w))
        .select("event_id", "user_id", "v_miss", "v_filled")
        .orderBy(col("event_id").asc_nulls_first)
    },
    Some("""
      SELECT event_id, user_id, v_miss,
             last_value(v_miss IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
      FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                   CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v_miss
            FROM events)
      ORDER BY event_id ASC NULLS FIRST"""))

  override def queries: Seq[GraftQuery] = Seq(
    winRowNumberFirstLast, winRankDenseNtile, winLagDiff, winRunningTotal,
    winMovingAvg, winPctOfGroup, winTopkPerGroup, winPercentCume, winLocfImpute)
}
