package graft.relational

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Classical time-series smoothing over the daily revenue series:
  * moving-average seasonal decomposition (trend / weekday index /
  * residual) and truncated-kernel EWMA smoothing.
  *
  * Cross-engine determinism: every multi-term sum that must match the
  * oracle bit-for-bit is either an exact DECIMAL sum (daily revenue, the
  * 7-term trend window, the EWMA numerator/denominator) or a sum of
  * 4-6dp-rounded DECIMALs whose integer representation stays far under
  * 2^53 — the repo-wide q92/TWAP idiom. The trend is 7 explicit
  * lag/lead DECIMAL terms, NOT a windowed avg, because sliding-window
  * aggregate implementations are free to add/subtract in different
  * orders; a fixed expression tree is engine-independent.
  *
  * Scale shapes: everything downstream of the first groupBy runs over
  * O(calendar days) rows. The one unpartitioned window (lag/lead over
  * the date spine) sits above that aggregate — the accepted
  * "window only above aggregate" class. The EWMA kernel is a 20-element
  * literal-array explode (narrow map), never a join.
  */
object Seasonal {

  private val dec = DecimalType(18, 2)

  /** Daily revenue as exact DECIMAL cents over a DENSE calendar spine
    * (silent days present with null revenue, so row-lag == calendar-lag).
    */
  private def dailySpine(orders: DataFrame): DataFrame = {
    val daily = orders
      .select(col("o_orderdate").cast("date").as("d"),
        col("o_totalprice").cast(dec).as("rev"))
      .groupBy(col("d")).agg(sum(col("rev")).as("rev"))
    val spine = daily
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("d"))
    spine.join(daily, Seq("d"), "left")
  }

  /** Per-day decomposition: (d, revenue, trend, resid, dow,
    * seasonal_idx). Trend is the centered 7-day moving average (null
    * within 3 days of a gap or the series edge — a null term nulls the
    * exact sum, by design); seasonal_idx is the mean residual of the
    * day-of-week (1=Mon..7=Sun).
    */
  def weekdayDecomposition(orders: DataFrame): DataFrame = {
    val sp = dailySpine(orders)
    val w = Window.orderBy(col("d"))
    val terms: Seq[Column] =
      (3 to 1 by -1).map(k => lag(col("rev"), k).over(w)) ++
        Seq(col("rev")) ++
        (1 to 3).map(k => lead(col("rev"), k).over(w))
    val withTrend = sp
      .withColumn("trend", terms.reduce(_ + _).cast("double") / 7.0)
      .withColumn("resid", col("rev").cast("double") - col("trend"))
      .withColumn("dow", (expr("weekday(d)") + 1).cast("long"))
    val idx = withTrend.filter(col("resid").isNotNull)
      .groupBy(col("dow"))
      .agg((sum(GraftQuery.duckRound(col("resid"), 6).cast(DecimalType(28, 6)))
        .cast("double") / count(lit(1))).as("seasonal_idx"))
    withTrend.join(idx, Seq("dow"), "left")
      .select(
        col("d").cast("timestamp").as("d"),
        col("rev").cast("double").as("revenue"),
        GraftQuery.duckRound(col("trend"), 6).as("trend"),
        GraftQuery.duckRound(col("resid"), 6).as("resid"),
        col("dow"),
        GraftQuery.duckRound(col("seasonal_idx"), 6).as("seasonal_idx"))
      .orderBy(col("d"))
  }

  /** Truncated-kernel EWMA weights (1-α)^k for k = 0..window-1, as exact
    * 12dp DECIMAL literals — shared verbatim with the oracle SQL so no
    * engine ever evaluates pow() (whose last-ulp behavior is
    * implementation-defined).
    */
  private[relational] val Alpha = new java.math.BigDecimal("0.2")
  private[relational] val EwmaWindow = 20
  private[relational] val ewmaWeights: Seq[(Int, java.math.BigDecimal)] = {
    val base = java.math.BigDecimal.ONE.subtract(Alpha) // 0.8
    (0 until EwmaWindow).map { k =>
      k -> base.pow(k).setScale(12, java.math.RoundingMode.HALF_UP)
    }
  }

  /** Per-day EWMA of daily revenue with a truncated 20-day kernel,
    * renormalized over the terms actually present (series head and
    * calendar gaps contribute nothing): (d, revenue, ewma, n_terms).
    */
  def ewmaDaily(orders: DataFrame): DataFrame = {
    val daily = orders
      .select(col("o_orderdate").cast("date").as("d"),
        col("o_totalprice").cast(dec).as("rev"))
      .groupBy(col("d")).agg(sum(col("rev")).as("rev"))
    val kernel = array(ewmaWeights.map { case (k, wgt) =>
      struct(lit(k).as("k"),
        lit(wgt).cast(DecimalType(14, 12)).as("w"))
    }: _*)
    val contrib = daily
      .select(col("d"), col("rev"), explode(kernel).as("kw"))
      .select(
        date_add(col("d"), col("kw.k")).as("d"),
        round(col("kw.w") * col("rev"), 4).cast(DecimalType(28, 4))
          .as("term"),
        col("kw.w").as("wgt"))
      .groupBy(col("d"))
      .agg(
        sum(col("term")).as("num"),
        sum(col("wgt")).as("den"),
        count(lit(1)).as("n_terms"))
    daily.join(contrib, Seq("d"))
      .select(
        col("d").cast("timestamp").as("d"),
        col("rev").cast("double").as("revenue"),
        GraftQuery.duckRound(col("num").cast("double") / col("den").cast("double"), 4)
          .as("ewma"),
        col("n_terms"))
      .orderBy(col("d"))
  }

  // ---- queries -------------------------------------------------------------

  val qSeasonal = GraftQuery(
    "q161_seasonal",
    (s, dir) => weekdayDecomposition(Tables.orders(s, dir)),
    Some(s"""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1),
      spine AS (
        SELECT CAST(unnest(generate_series(
                 (SELECT CAST(min(d) AS TIMESTAMP) FROM daily),
                 (SELECT CAST(max(d) AS TIMESTAMP) FROM daily),
                 INTERVAL 1 DAY)) AS DATE) AS d),
      sp AS (
        SELECT spine.d, daily.rev FROM spine LEFT JOIN daily USING (d)),
      t AS (
        SELECT d, rev,
               CAST(lag(rev, 3) OVER (ORDER BY d)
                  + lag(rev, 2) OVER (ORDER BY d)
                  + lag(rev, 1) OVER (ORDER BY d)
                  + rev
                  + lead(rev, 1) OVER (ORDER BY d)
                  + lead(rev, 2) OVER (ORDER BY d)
                  + lead(rev, 3) OVER (ORDER BY d) AS DOUBLE) / 7.0
                 AS trend
        FROM sp),
      r AS (
        SELECT d, rev, trend,
               CAST(rev AS DOUBLE) - trend AS resid,
               CAST(isodow(d) AS BIGINT) AS dow
        FROM t),
      idx AS (
        SELECT dow,
               CAST(sum(CAST(round(resid, 6) AS DECIMAL(28,6))) AS DOUBLE)
                 / count(*) AS seasonal_idx
        FROM r WHERE resid IS NOT NULL GROUP BY dow)
      SELECT CAST(r.d AS TIMESTAMP) AS d,
             CAST(r.rev AS DOUBLE) AS revenue,
             round(r.trend, 6) AS trend,
             round(r.resid, 6) AS resid,
             r.dow,
             round(idx.seasonal_idx, 6) AS seasonal_idx
      FROM r LEFT JOIN idx USING (dow)
      ORDER BY d"""))

  val qEwma = GraftQuery(
    "q162_ewma",
    (s, dir) => ewmaDaily(Tables.orders(s, dir)), {
      val values = ewmaWeights.map { case (k, w) =>
        s"($k, CAST('${w.toPlainString}' AS DECIMAL(14,12)))"
      }.mkString(",\n               ")
      Some(s"""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1),
      weights(k, w) AS (
        VALUES $values),
      contrib AS (
        SELECT daily.d + CAST(weights.k AS INTEGER) AS d,
               CAST(round(weights.w * daily.rev, 4) AS DECIMAL(28,4))
                 AS term,
               weights.w AS wgt
        FROM daily, weights),
      agg AS (
        SELECT d, sum(term) AS num, sum(wgt) AS den,
               CAST(count(*) AS BIGINT) AS n_terms
        FROM contrib GROUP BY d)
      SELECT CAST(daily.d AS TIMESTAMP) AS d,
             CAST(daily.rev AS DOUBLE) AS revenue,
             round(CAST(agg.num AS DOUBLE) / CAST(agg.den AS DOUBLE), 4)
               AS ewma,
             agg.n_terms
      FROM daily JOIN agg USING (d)
      ORDER BY d""")
    })

  val queries: Seq[GraftQuery] = Seq(qSeasonal, qEwma)
}
