package graft.relational

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-quality constraint checking (the Deequ shape): evaluate a suite of
  * table-level constraints — completeness, uniqueness, value ranges,
  * referential integrity — in as few passes as the constraints allow and
  * emit one (metric, value) row per check.
  *
  * Scale shape: every scalar metric folds into ONE single-pass aggregate
  * over the fact table (completeness/range checks are conditional sums the
  * partial aggregate combines map-side); the referential check is one
  * LEFT ANTI join against the dimension keys (AQE broadcasts the slim key
  * projection when it fits). Nothing here is per-row output — the report
  * is O(constraints) rows whatever the table size.
  */
object Quality {

  /** Constraint report for lineitem against orders. */
  def lineitemQualityReport(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val base = lineitem.agg(
      count(lit(1)).as("row_count"),
      sum(col("l_orderkey").isNull.cast("long")).as("null_orderkey"),
      countDistinct(col("l_orderkey"), col("l_linenumber")).as("distinct_pk"),
      min(col("l_quantity")).as("min_quantity"),
      max(col("l_quantity")).as("max_quantity"),
      sum((col("l_discount") < 0.0 || col("l_discount") > 1.0).cast("long"))
        .as("bad_discount"))
    val orphans = lineitem
      .join(orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orphan_rows"))
    base.crossJoin(broadcast(orphans))
      .selectExpr("""stack(7,
        'row_count', CAST(row_count AS DOUBLE),
        'null_orderkey', CAST(null_orderkey AS DOUBLE),
        'distinct_pk', CAST(distinct_pk AS DOUBLE),
        'min_quantity', CAST(min_quantity AS DOUBLE),
        'max_quantity', CAST(max_quantity AS DOUBLE),
        'bad_discount', CAST(bad_discount AS DOUBLE),
        'orphan_rows', CAST(orphan_rows AS DOUBLE)) AS (metric, value)""")
      .orderBy(col("metric"))
  }

  /** Fact-vs-header consistency audit: recompute each order's total from
    * its lines (the TPC-H price formula) and reconcile against
    * o_totalprice per order status — the referential-quality join a
    * warehouse runs after every load. Per-line totals round to 2dp
    * DECIMAL before summing (exact, order-independent); the tolerance
    * compare happens on exact decimals so the matched/mismatched split
    * is engine-stable.
    *
    * Scale shape: one per-order aggregate of the fact table, one
    * orders⋈recomputed equi-join on the key, one O(statuses) rollup.
    * Orders with no lines are their own bucket via the left join.
    */
  def orderConsistencyAudit(orders: DataFrame, lineitem: DataFrame,
                            tolerance: String = "0.02"): DataFrame = {
    val lineTotal = GraftQuery.duckRound(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
      (lit(1.0) + col("l_tax")), 2).cast("decimal(18,2)")
    val recomputed = lineitem.groupBy(col("l_orderkey"))
      .agg(sum(lineTotal).as("line_total"))
    val tol = lit(BigDecimal(tolerance))
    orders.select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").as("header_total"))
      .join(recomputed, col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("line_total").isNull, 1L).otherwise(0L)).as("n_no_lines"),
        sum(when(col("line_total").isNotNull &&
          abs(col("line_total") - col("header_total")) <= tol, 1L)
          .otherwise(0L)).as("n_matched"),
        sum(when(col("line_total").isNotNull &&
          abs(col("line_total") - col("header_total")) > tol, 1L)
          .otherwise(0L)).as("n_mismatched"),
        max(when(col("line_total").isNotNull,
          abs(col("line_total") - col("header_total")))).cast("double")
          .as("max_abs_diff"))
      .orderBy(col("o_orderstatus"))
  }

  // ---- queries -------------------------------------------------------------

  val qOrderConsistency = GraftQuery(
    "q141_order_consistency",
    (s, dir) => orderConsistencyAudit(Tables.orders(s, dir), Tables.lineitem(s, dir)),
    Some("""
      WITH recomputed AS (
        SELECT l_orderkey,
               sum(CAST(round(l_extendedprice * (1.0 - l_discount)
                              * (1.0 + l_tax), 2) AS DECIMAL(18,2)))
                 AS line_total
        FROM lineitem GROUP BY l_orderkey)
      SELECT o.o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CASE WHEN r.line_total IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_no_lines,
             CAST(sum(CASE WHEN r.line_total IS NOT NULL
                            AND abs(r.line_total
                                    - CAST(o.o_totalprice AS DECIMAL(18,2)))
                                <= CAST(0.02 AS DECIMAL(4,2))
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
             CAST(sum(CASE WHEN r.line_total IS NOT NULL
                            AND abs(r.line_total
                                    - CAST(o.o_totalprice AS DECIMAL(18,2)))
                                > CAST(0.02 AS DECIMAL(4,2))
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
             CAST(max(CASE WHEN r.line_total IS NOT NULL
                           THEN abs(r.line_total
                                    - CAST(o.o_totalprice AS DECIMAL(18,2)))
                      END) AS DOUBLE) AS max_abs_diff
      FROM orders o LEFT JOIN recomputed r ON o.o_orderkey = r.l_orderkey
      GROUP BY o.o_orderstatus
      ORDER BY o.o_orderstatus"""))

  val qQualityReport = GraftQuery(
    "q90_quality_report",
    (s, dir) => lineitemQualityReport(Tables.lineitem(s, dir), Tables.orders(s, dir)),
    Some("""
      SELECT metric, value FROM (
        SELECT 'row_count' AS metric, CAST(count(*) AS DOUBLE) AS value FROM lineitem
        UNION ALL
        SELECT 'null_orderkey', CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) FROM lineitem
        UNION ALL
        SELECT 'distinct_pk', CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS DOUBLE) FROM lineitem
        UNION ALL
        SELECT 'min_quantity', CAST(min(l_quantity) AS DOUBLE) FROM lineitem
        UNION ALL
        SELECT 'max_quantity', CAST(max(l_quantity) AS DOUBLE) FROM lineitem
        UNION ALL
        SELECT 'bad_discount', CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS DOUBLE) FROM lineitem
        UNION ALL
        -- NOT EXISTS, not NOT IN: a NULL key is an orphan under Spark's
        -- left-anti semantics, while NOT IN would silently drop it
        SELECT 'orphan_rows', CAST(count(*) AS DOUBLE) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      ) t ORDER BY metric"""))

  /** Incremental aggregate maintenance: merge a maintained per-key
    * aggregate state with a delta batch's partial aggregate — the
    * incremental-pipeline primitive (recompute only the delta, combine).
    * Exactness: the measures are DECIMAL sums and counts — algebraic, so
    * merge(base, delta) is bit-identical to the full recompute the oracle
    * runs. One full-outer equi-join of two already-aggregated O(keys)
    * tables.
    */
  def mergeAggStates(base: DataFrame, delta: DataFrame): DataFrame =
    base.select(col("user_id"), col("total").as("t1"), col("n").as("n1"))
      .join(delta.select(col("user_id"), col("total").as("t2"), col("n").as("n2")),
        Seq("user_id"), "full_outer")
      .select(col("user_id"),
        (coalesce(col("t1"), lit(0).cast(graft.GraftQuery.DEC)) +
          coalesce(col("t2"), lit(0).cast(graft.GraftQuery.DEC))).as("total"),
        (coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L))).as("n"))

  private def aggState(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(sum(col("value").cast(graft.GraftQuery.DEC)).as("total"),
        count(lit(1)).as("n"))

  val qIncrementalAgg = GraftQuery(
    "q91_incremental_agg",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val cutoff = "2024-01-15 00:00:00"
      val base = aggState(e.filter(col("ts") < lit(cutoff).cast("timestamp")))
      val delta = aggState(e.filter(col("ts") >= lit(cutoff).cast("timestamp")))
      mergeAggStates(base, delta)
        .select(col("user_id"), col("total").cast("double").as("total_value"),
          col("n").as("n_events"))
        .orderBy(col("user_id"))
    },
    Some(s"""
      SELECT user_id,
             CAST(sum(CAST(value AS ${graft.GraftQuery.DEC})) AS DOUBLE) AS total_value,
             count(*) AS n_events
      FROM events GROUP BY user_id ORDER BY user_id"""))

  val queries: Seq[GraftQuery] = Seq(qQualityReport, qIncrementalAgg, qOrderConsistency)
}
