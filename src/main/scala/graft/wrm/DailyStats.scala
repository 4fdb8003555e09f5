package graft.wrm

import graft.GraftQuery.duckRound
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-station daily aggregates (A6/A7; reference
  * assets/iceberg_assets.py:159-173 station summary, :192-201 movement).
  *
  * Fidelity notes (SURVEY §7.4.8/§7.4.10):
  *  - pandas `std` is ddof=1 → `stddev_samp` (null for 1-row groups);
  *  - pandas `first`/`last` rely on input (chronological) order, which is
  *    meaningless after a shuffle → `min_by`/`max_by` on (file_timestamp,
  *    timestamp), which is the chronological order the reference files
  *    arrive in;
  *  - `installed` ratio = mean of bool (iceberg_assets.py:164).
  */
object DailyStats {

  private def orderKey = struct(col("file_timestamp"), col("timestamp"))

  /** A6: bikes/spaces mean/max/min/std + docks + installed ratio, rounded
    * to 2 (iceberg_assets.py:165).
    */
  def stationDailySummary(enhanced: DataFrame): DataFrame =
    enhanced
      .filter(col("record_type") === "station")
      .groupBy(col("station_id"), col("name"))
      .agg(
        duckRound(avg(col("bikes")), 2).as("bikes_mean"),
        max(col("bikes")).as("bikes_max"),
        min(col("bikes")).as("bikes_min"),
        duckRound(stddev_samp(col("bikes")), 2).as("bikes_std"),
        duckRound(avg(col("spaces")), 2).as("spaces_mean"),
        max(col("spaces")).as("spaces_max"),
        min(col("spaces")).as("spaces_min"),
        duckRound(stddev_samp(col("spaces")), 2).as("spaces_std"),
        min_by(col("total_docks"), orderKey).as("total_docks"),
        duckRound(avg(col("installed").cast("double")), 2).as("installed_ratio"),
        min_by(col("date"), orderKey).as("partition_date"))

  /** A7: first/last/std of coordinates per station, rounded to 6
    * (iceberg_assets.py:197).
    */
  def bikeMovementSummary(enhanced: DataFrame): DataFrame =
    enhanced
      .filter(col("record_type") === "bike")
      .groupBy(col("station_id"), col("name"))
      .agg(
        min_by(col("lat"), orderKey).as("lat_first"),
        max_by(col("lat"), orderKey).as("lat_last"),
        duckRound(stddev_samp(col("lat")), 6).as("lat_std"),
        min_by(col("lon"), orderKey).as("lon_first"),
        max_by(col("lon"), orderKey).as("lon_last"),
        duckRound(stddev_samp(col("lon")), 6).as("lon_std"),
        duckRound(avg(col("installed").cast("double")), 2).as("installed_ratio"),
        min_by(col("date"), orderKey).as("partition_date"))
}
