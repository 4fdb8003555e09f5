package graft.relational

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Growth analytics over the events stream: cumulative distinct users and
  * month-over-month growth accounting (new / retained / resurrected /
  * churned) — the standard product-analytics decomposition.
  *
  * Scale shapes:
  *  - Cumulative distinct is NOT a running COUNT(DISTINCT) over raw rows
  *    (quadratic re-scan class): a user's first-seen date reduces the
  *    fact table once, daily first-seen counts are O(dates), and the
  *    running sum window runs over the aggregated calendar — the q102
  *    sweep-line shape.
  *  - Growth accounting reduces to one (user, month) distinct aggregate,
  *    a per-user lag window over O(user's active months) rows, then an
  *    O(months) rollup. Churn is the next month's mirror of retention:
  *    emitted by shifting each active month forward, so no calendar
  *    spine join is needed.
  */
object Growth {

  /** (d, new_users, cumulative_users) per active date. */
  def cumulativeUsers(events: DataFrame): DataFrame = {
    val firstSeen = events
      .select(col("user_id"), col("ts").cast("date").as("d"))
      .groupBy(col("user_id")).agg(min(col("d")).as("d"))
    val daily = firstSeen.groupBy(col("d")).agg(count(lit(1)).as("new_users"))
    val w = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .select(col("d").cast("timestamp").as("d"), col("new_users"),
        sum(col("new_users")).over(w).as("cumulative_users"))
      .orderBy(col("d"))
  }

  /** Per month: users active this month split into new (first month),
    * retained (also active previous month), resurrected (active before,
    * not previous month), plus churned (active previous month, not this
    * one).
    */
  def growthAccounting(events: DataFrame): DataFrame = {
    val um = events
      .select(col("user_id"), date_trunc("month", col("ts")).as("m"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("m"))
    val classified = um
      .withColumn("prev", lag(col("m"), 1).over(w))
      .withColumn("status",
        when(col("prev").isNull, lit("new"))
          .when(col("prev") === add_months(col("m"), -1).cast("timestamp"), lit("retained"))
          .otherwise(lit("resurrected")))
    val active = classified.groupBy(col("m"))
      .agg(
        sum(when(col("status") === "new", 1L).otherwise(0L)).as("new_users"),
        sum(when(col("status") === "retained", 1L).otherwise(0L)).as("retained"),
        sum(when(col("status") === "resurrected", 1L).otherwise(0L)).as("resurrected"))
    // a user active in month m churns in m+1 unless also active there:
    // count actives per month shifted forward, minus next-month retained
    val churnBase = um.select(add_months(col("m"), 1).cast("timestamp").as("m"))
      .groupBy(col("m")).agg(count(lit(1)).as("prev_active"))
    active.join(churnBase, Seq("m"), "left")
      .select(col("m").cast("timestamp").as("m"), col("new_users"),
        col("retained"), col("resurrected"),
        (coalesce(col("prev_active"), lit(0L)) - col("retained")).as("churned"))
      .orderBy(col("m"))
  }

  /** Monthly revenue with month-over-month and year-over-year percent
    * change: (m, revenue, mom_pct, yoy_pct) — the standard KPI trend
    * report. Comparison months attach by CALENDAR self-joins on the
    * O(months) aggregate (not lag offsets, which silently misalign when
    * a month is empty); first month / first year rows carry nulls.
    */
  def periodOverPeriod(orders: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val monthly = orders
      .select(date_trunc("month", col("o_orderdate")).cast("date").as("m"),
        col("o_totalprice").cast(dec).as("rev"))
      .groupBy(col("m")).agg(sum(col("rev")).as("rev"))
    def shifted(months: Int, alias: String) = monthly.select(
      add_months(col("m"), months).as("m"), col("rev").as(alias))
    def pct(cur: org.apache.spark.sql.Column, prev: org.apache.spark.sql.Column) =
      GraftQuery.duckRound((cur.cast("double") / prev.cast("double") - 1.0) * 100.0, 6)
    monthly
      .join(shifted(1, "prev_m"), Seq("m"), "left")
      .join(shifted(12, "prev_y"), Seq("m"), "left")
      .select(
        col("m").cast("timestamp").as("m"),
        col("rev").cast("double").as("revenue"),
        pct(col("rev"), col("prev_m")).as("mom_pct"),
        pct(col("rev"), col("prev_y")).as("yoy_pct"))
      .orderBy(col("m"))
  }

  // ---- queries -------------------------------------------------------------

  val qCumulativeUsers = GraftQuery(
    "q139_cumulative_users",
    (s, dir) => cumulativeUsers(Tables.events(s, dir)),
    Some("""
      WITH first_seen AS (
        SELECT user_id, min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d
        FROM events GROUP BY user_id),
      daily AS (SELECT d, count(*) AS new_users FROM first_seen GROUP BY d)
      SELECT CAST(d AS TIMESTAMP) AS d,
             CAST(new_users AS BIGINT) AS new_users,
             CAST(sum(new_users) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cumulative_users
      FROM daily ORDER BY d"""))

  val qGrowthAccounting = GraftQuery(
    "q140_growth_accounting",
    (s, dir) => growthAccounting(Tables.events(s, dir)),
    Some("""
      WITH um AS (
        SELECT DISTINCT user_id,
               date_trunc('month', CAST(ts AS TIMESTAMP)) AS m
        FROM events),
      classified AS (
        SELECT user_id, m,
               lag(m, 1) OVER (PARTITION BY user_id ORDER BY m) AS prev
        FROM um),
      active AS (
        SELECT m,
               CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS new_users,
               CAST(sum(CASE WHEN prev = m - INTERVAL 1 MONTH
                             THEN 1 ELSE 0 END) AS BIGINT) AS retained,
               CAST(sum(CASE WHEN prev IS NOT NULL
                              AND prev <> m - INTERVAL 1 MONTH
                             THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
        FROM classified GROUP BY m),
      churn_base AS (
        SELECT m + INTERVAL 1 MONTH AS m, count(*) AS prev_active
        FROM um GROUP BY 1)
      SELECT CAST(a.m AS TIMESTAMP) AS m, a.new_users, a.retained,
             a.resurrected,
             CAST(coalesce(c.prev_active, 0) - a.retained AS BIGINT)
               AS churned
      FROM active a LEFT JOIN churn_base c ON a.m = c.m
      ORDER BY m"""))

  val qPeriodOverPeriod = GraftQuery(
    "q166_period_over_period",
    (s, dir) => periodOverPeriod(Tables.orders(s, dir)),
    Some("""
      WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1)
      SELECT CAST(cur.m AS TIMESTAMP) AS m,
             CAST(cur.rev AS DOUBLE) AS revenue,
             round((CAST(cur.rev AS DOUBLE) / CAST(pm.rev AS DOUBLE) - 1.0)
                   * 100.0, 6) AS mom_pct,
             round((CAST(cur.rev AS DOUBLE) / CAST(py.rev AS DOUBLE) - 1.0)
                   * 100.0, 6) AS yoy_pct
      FROM monthly cur
      LEFT JOIN monthly pm ON cur.m = pm.m + INTERVAL 1 MONTH
      LEFT JOIN monthly py ON cur.m = py.m + INTERVAL 12 MONTH
      ORDER BY m"""))

  val queries: Seq[GraftQuery] =
    Seq(qCumulativeUsers, qGrowthAccounting, qPeriodOverPeriod)
}
