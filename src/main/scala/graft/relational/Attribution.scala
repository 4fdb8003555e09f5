package graft.relational

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Last-touch marketing attribution: each conversion (purchase) is credited
  * to the most recent touch (click) by the same user within a lookback
  * window — the canonical event-stream attribution join.
  *
  * Shape: ONE per-user window pass (the accepted per-key class) carrying
  * the last-seen touch forward with `last(..., ignoreNulls)` over the
  * (ts, event_id) total order — no self-join, no per-conversion probe.
  * The lookback test is exact integer microseconds. Same-instant
  * tie-break: a touch at the conversion's exact (ts, id)-order position or
  * earlier is eligible — deterministic because the order is total.
  */
object Attribution {

  /** Returns one row per conversion: (purchase_id, user_id, ts, value,
    * click_id, click_ts, attributed) — click columns null (attributed =
    * false) when no touch precedes the conversion within `lookbackUs`.
    */
  def lastTouchAttribution(events: DataFrame, lookbackUs: Long): DataFrame = {
    require(lookbackUs > 0, s"lookbackUs must be > 0, got $lookbackUs")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isClick = col("event_type") === "click"
    val carried = events
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"), col("value"))
      .withColumn("click_id", last(when(isClick, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_ts", last(when(isClick, col("ts")), ignoreNulls = true).over(w))
    carried.filter(col("event_type") === "purchase")
      .withColumn("in_window",
        col("click_ts").isNotNull &&
          unix_micros(col("ts")) - unix_micros(col("click_ts")) <= lookbackUs)
      .select(
        col("event_id").as("purchase_id"), col("user_id"), col("ts"), col("value"),
        when(col("in_window"), col("click_id")).as("click_id"),
        when(col("in_window"), col("click_ts")).as("click_ts"),
        col("in_window").as("attributed"))
      .orderBy(col("purchase_id"))
  }

  /** Position-based (U-shaped, 40/20/40) multi-touch attribution: every
    * click within the lookback before a conversion gets credit — 100% for a
    * single touch, 50/50 for two, else 40% first / 40% last / the middles
    * splitting 20% evenly. One row per (purchase, click).
    *
    * Shape: the purchases⋈clicks equi-join on user_id (per-user fanout is
    * bounded by the lookback — never a cross of all history), then ONE
    * per-purchase window pass for position and touch count. Credit math is
    * scalar double arithmetic on small integers (identical in any IEEE
    * engine), rounded to 8 to pin the 0.2/(n−2) division.
    */
  def positionAttribution(events: DataFrame, lookbackUs: Long): DataFrame = {
    require(lookbackUs > 0, s"lookbackUs must be > 0, got $lookbackUs")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    val touches = purchases.join(clicks, Seq("user_id"))
      .filter(col("click_ts") <= col("p_ts") &&
        unix_micros(col("p_ts")) - unix_micros(col("click_ts")) <= lookbackUs)
    val byPos = Window.partitionBy(col("purchase_id"))
      .orderBy(col("click_ts"), col("click_id"))
    val whole = Window.partitionBy(col("purchase_id"))
    touches
      .withColumn("rn", row_number().over(byPos).cast("long"))
      .withColumn("n_touches", count(lit(1)).over(whole))
      .withColumn("credit",
        when(col("n_touches") === 1, lit(1.0))
          .when(col("n_touches") === 2, lit(0.5))
          .when(col("rn") === 1 || col("rn") === col("n_touches"), lit(0.4))
          .otherwise(GraftQuery.duckRound(lit(0.2) / (col("n_touches") - 2), 8)))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        col("rn"), col("n_touches"), col("credit"))
      .orderBy(col("purchase_id"), col("rn"))
  }

  // ---- queries -------------------------------------------------------------

  val qAttribution = GraftQuery(
    "q109_attribution",
    (s, dir) => lastTouchAttribution(Tables.events(s, dir),
      lookbackUs = 7L * 86400L * 1000000L),
    Some("""
      WITH e AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value
        FROM events),
      carried AS (
        SELECT *,
               last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id,
               last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_ts
        FROM e),
      p AS (
        SELECT *,
               click_ts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(click_ts) <= 604800000000 AS in_window
        FROM carried WHERE event_type = 'purchase')
      SELECT event_id AS purchase_id, user_id, ts, value,
             CASE WHEN in_window THEN click_id END AS click_id,
             CASE WHEN in_window THEN click_ts END AS click_ts,
             in_window AS attributed
      FROM p ORDER BY purchase_id"""))

  val qPositionAttribution = GraftQuery(
    "q115_position_attribution",
    (s, dir) => positionAttribution(Tables.events(s, dir),
      lookbackUs = 7L * 86400L * 1000000L),
    Some("""
      WITH e AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
        FROM events),
      c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
            FROM e WHERE event_type = 'click'),
      p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
            FROM e WHERE event_type = 'purchase'),
      t AS (
        SELECT p.purchase_id, p.user_id, c.click_id, c.click_ts
        FROM p JOIN c USING (user_id)
        WHERE c.click_ts <= p.p_ts
          AND epoch_us(p.p_ts) - epoch_us(c.click_ts) <= 604800000000),
      r AS (
        SELECT *,
               row_number() OVER (PARTITION BY purchase_id
                                  ORDER BY click_ts, click_id) AS rn,
               count(*) OVER (PARTITION BY purchase_id) AS n_touches
        FROM t)
      SELECT purchase_id, user_id, click_id, rn, n_touches,
             CASE WHEN n_touches = 1 THEN CAST(1.0 AS DOUBLE)
                  WHEN n_touches = 2 THEN CAST(0.5 AS DOUBLE)
                  WHEN rn = 1 OR rn = n_touches THEN CAST(0.4 AS DOUBLE)
                  ELSE round(CAST(0.2 AS DOUBLE) / (n_touches - 2), 8) END AS credit
      FROM r ORDER BY purchase_id, rn"""))

  val queries: Seq[GraftQuery] = Seq(qAttribution, qPositionAttribution)
}
