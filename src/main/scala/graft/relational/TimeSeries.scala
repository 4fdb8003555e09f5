package graft.relational

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Time-series surface: interval-concurrency sweep lines, gap-filled
  * (LOCF) daily series, and OHLC downsampling bars.
  *
  * Scale shapes:
  *  - The concurrency sweep reduces intervals to +1/−1 boundary deltas and
  *    AGGREGATES PER DATE before the running sum, so the one unpartitioned
  *    window runs over O(distinct dates) rows — calendar-bounded, not
  *    data-bounded (the PlanAuditSpec "window only above aggregate" class).
  *  - Gap fill explodes a per-entity date spine: output is O(entities x
  *    their-active-span-days) — the size of the ANSWER, not an artifact;
  *    the LOCF window is per-entity (the accepted per-key class).
  *  - OHLC's open/close picks are per-(entity, day) row_number windows over
  *    a (ts, event_id) total order — deterministic at any partitioning.
  */
object TimeSeries {

  private val dec = DecimalType(18, 2)
  private def d2(c: Column): Column = c.cast(dec)

  /** Sweep-line concurrency: for intervals [s, e), the number open on each
    * boundary date. `iv` has date columns (s, e). Returns (d, net,
    * concurrent) — net is that date's opens minus closes.
    */
  def intervalConcurrency(iv: DataFrame): DataFrame = {
    val deltas = iv.select(col("s").as("d"), lit(1L).as("delta"))
      .unionAll(iv.select(col("e").as("d"), lit(-1L).as("delta")))
    val net = deltas.groupBy(col("d")).agg(sum(col("delta")).as("net"))
    val w = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    net.withColumn("concurrent", sum(col("net")).over(w))
      // output edge: DATE → TIMESTAMP (the cross-engine compare type; DATE
      // surfaces differently from the two engines' parquet/pandas paths)
      .withColumn("d", col("d").cast("timestamp"))
      .orderBy(col("d"))
  }

  /** Order fulfillment intervals: open at o_orderdate, deterministic
    * key-derived duration of 1–30 days (the table has no close date).
    */
  def orderIntervals(orders: DataFrame): DataFrame =
    orders.select(
      col("o_orderdate").cast("date").as("s"),
      date_add(col("o_orderdate").cast("date"),
        (col("o_orderkey") % 30 + 1).cast("int")).as("e"))

  /** Daily per-entity series with gaps filled by carry-forward (LOCF): one
    * row per entity-day across that entity's [first, last] active span,
    * `day_total` null on silent days, `filled` the last observed total.
    */
  def gapFillDaily(events: DataFrame, eventType: String): DataFrame = {
    val daily = events.filter(col("event_type") === eventType)
      .select(col("user_id"), col("ts").cast("date").as("d"), col("value"))
      .groupBy(col("user_id"), col("d"))
      .agg(sum(d2(col("value"))).cast("double").as("day_total"))
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("d"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "d"), "left")
      .withColumn("filled", last(col("day_total"), ignoreNulls = true).over(w))
      .withColumn("d", col("d").cast("timestamp")) // output edge, see above
      .orderBy(col("user_id"), col("d"))
  }

  /** OHLC bars: per (entity, day) the first/max/min/last value plus count
    * and exact total — the canonical downsampling of a tick stream.
    */
  def ohlcBars(events: DataFrame, eventType: String): DataFrame = {
    val base = events.filter(col("event_type") === eventType)
      .select(col("user_id"), col("ts").cast("date").as("d"),
        col("ts"), col("event_id"), col("value"))
    val w = Window.partitionBy(col("user_id"), col("d"))
    base
      .withColumn("rn_a", row_number().over(w.orderBy(col("ts"), col("event_id"))))
      .withColumn("rn_d", row_number().over(w.orderBy(col("ts").desc, col("event_id").desc)))
      .groupBy(col("user_id"), col("d"))
      .agg(
        max(when(col("rn_a") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn_d") === 1, col("value"))).as("close"),
        count(lit(1)).as("n_events"),
        sum(d2(col("value"))).cast("double").as("total"))
      .withColumn("d", col("d").cast("timestamp")) // output edge, see above
      .orderBy(col("user_id"), col("d"))
  }

  /** Time-weighted average value per entity (TWAP): each observation is
    * weighted by how long it stayed current (µs until the next event);
    * the last observation of an entity carries no interval and drops out.
    * The unweighted mean over-counts bursts — TWAP is the standard fix
    * for irregularly-sampled series.
    *
    * Scale shape: one per-entity lead window over the entity's own rows
    * (the accepted per-key class), then one aggregate. The weighted
    * terms are rounded to ×10⁴ integers, whose sums stay far under 2^53
    * (exact at any partitioning); the denominator is the raw µs span.
    */
  def twap(events: DataFrame, eventType: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val dtS = col("dt_us").cast("double") / 1000000.0
    events.filter(col("event_type") === eventType)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("dt_us",
        unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
      .filter(col("dt_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_intervals"),
        sum(col("dt_us")).as("span_us"),
        ((sum(round(col("value") * dtS * 1e4).cast("long")).cast("double") / 1e4) /
          (sum(col("dt_us")).cast("double") / 1e6)).as("twap"))
      .orderBy(col("user_id"))
  }

  // ---- queries -------------------------------------------------------------

  val qConcurrency = GraftQuery(
    "q102_interval_concurrency",
    (s, dir) => intervalConcurrency(orderIntervals(Tables.orders(s, dir))),
    Some("""
      WITH iv AS (
        SELECT CAST(o_orderdate AS DATE) AS s,
               CAST(o_orderdate AS DATE) + CAST(o_orderkey % 30 + 1 AS INTEGER) AS e
        FROM orders),
      deltas AS (
        SELECT s AS d, CAST(1 AS BIGINT) AS delta FROM iv
        UNION ALL SELECT e, -1 FROM iv),
      net AS (SELECT d, CAST(sum(delta) AS BIGINT) AS net FROM deltas GROUP BY d)
      SELECT CAST(d AS TIMESTAMP) AS d, net,
             CAST(sum(net) OVER (ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS concurrent
      FROM net ORDER BY d"""))

  val qGapFill = GraftQuery(
    "q103_gap_fill",
    (s, dir) => gapFillDaily(Tables.events(s, dir), "purchase"),
    Some("""
      WITH p AS (
        SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, value
        FROM events WHERE event_type = 'purchase'),
      daily AS (
        SELECT user_id, d,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_total
        FROM p GROUP BY user_id, d),
      spine AS (
        SELECT user_id,
               CAST(unnest(generate_series(min(d), max(d), INTERVAL 1 DAY)) AS DATE) AS d
        FROM daily GROUP BY user_id)
      SELECT s.user_id, CAST(s.d AS TIMESTAMP) AS d, dd.day_total,
             last_value(dd.day_total IGNORE NULLS)
               OVER (PARTITION BY s.user_id ORDER BY s.d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      FROM spine s LEFT JOIN daily dd ON s.user_id = dd.user_id AND s.d = dd.d
      ORDER BY s.user_id, s.d"""))

  val qOhlc = GraftQuery(
    "q104_ohlc",
    (s, dir) => ohlcBars(Tables.events(s, dir), "purchase"),
    Some("""
      WITH base AS (
        SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
               CAST(ts AS TIMESTAMP) AS ts, event_id, value
        FROM events WHERE event_type = 'purchase'),
      rn AS (
        SELECT user_id, d, value,
               row_number() OVER (PARTITION BY user_id, d
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY user_id, d
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM base)
      SELECT user_id, CAST(d AS TIMESTAMP) AS d,
             max(CASE WHEN rn_a = 1 THEN value END) AS open,
             max(value) AS high,
             min(value) AS low,
             max(CASE WHEN rn_d = 1 THEN value END) AS close,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM rn GROUP BY user_id, d
      ORDER BY user_id, d"""))

  val qTwap = GraftQuery(
    "q132_twap",
    (s, dir) => twap(Tables.events(s, dir), "view"),
    Some("""
      WITH base AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
        FROM events WHERE event_type = 'view'),
      led AS (
        SELECT user_id, value,
               epoch_us(lead(ts, 1) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id))
                 - epoch_us(ts) AS dt_us
        FROM base)
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_intervals,
             CAST(sum(dt_us) AS BIGINT) AS span_us,
             (CAST(sum(CAST(round(value * (CAST(dt_us AS DOUBLE) / 1000000.0)
                                  * 10000.0) AS BIGINT)) AS DOUBLE)
                / 10000.0) /
               (CAST(sum(dt_us) AS DOUBLE) / 1000000.0) AS twap
      FROM led WHERE dt_us IS NOT NULL
      GROUP BY user_id ORDER BY user_id"""))

  val queries: Seq[GraftQuery] = Seq(qConcurrency, qGapFill, qOhlc, qTwap)
}
