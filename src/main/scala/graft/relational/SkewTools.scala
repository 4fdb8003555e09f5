package graft.relational

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot grouping keys: two-stage salted aggregation.
  *
  * A single hot key sends its entire traffic to one reducer; salting
  * splits each key into `salts` sub-keys for the partial aggregate, then
  * combines the partials in a second (tiny) aggregate. Works for any
  * algebraic aggregate (sum/count/min/max — anything with a combine step).
  * AQE's skew handling covers joins; aggregation skew needs this shape.
  */
object SkewTools {

  /** Salted sum/count aggregation over `key`:
    * stage 1 groups by (key, salt) — parallelism `salts` per hot key;
    * stage 2 groups by key over ≤ salts partial rows per key.
    */
  def saltedSumCount(df: DataFrame, key: Column, valueCol: Column,
                     salts: Int = 16): DataFrame =
    df.withColumn("_salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
      .groupBy(key.as("k"), col("_salt"))
      .agg(sum(valueCol).as("_psum"), count(lit(1)).as("_pcnt"))
      .groupBy(col("k"))
      .agg(sum(col("_psum")).as("total"), sum(col("_pcnt")).as("n"))

  // ---- queries -------------------------------------------------------------

  /** q81: salted per-user event totals. The value is accumulated as
    * DECIMAL (the GraftQuery.DEC idiom) so the two-stage sum is exact and
    * therefore IDENTICAL to the plain one-stage GROUP BY the oracle runs —
    * which is the whole point: salting changes the shuffle shape, never
    * the answer. The salt itself (partition id + row offset) is
    * arbitrary-but-irrelevant: any assignment combines to the same exact
    * totals, so the result is deterministic even though the salt is not.
    */
  val qSaltedAgg = GraftQuery(
    "q81_salted_agg",
    (s, dir) =>
      saltedSumCount(Tables.events(s, dir), col("user_id"),
        col("value").cast(GraftQuery.DEC))
        .select(col("k").as("user_id"),
          col("total").cast("double").as("total_value"),
          col("n").as("n_events"))
        .orderBy(col("user_id")),
    Some(s"""
      SELECT user_id,
             CAST(sum(CAST(value AS ${GraftQuery.DEC})) AS DOUBLE) AS total_value,
             count(*) AS n_events
      FROM events GROUP BY user_id ORDER BY user_id"""))

  val queries: Seq[GraftQuery] = Seq(qSaltedAgg)
}
