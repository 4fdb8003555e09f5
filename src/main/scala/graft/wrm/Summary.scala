package graft.wrm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Station summary analytics (A1/A2/O2; reference
  * query_station_summary.py:13-45 + view smoke queries
  * create_enhanced_views.py:98-112).
  */
object Summary {

  final case class StationSummary(
      totalRecords: Long,
      recordTypeCounts: Map[String, Long],
      top10Recent: Array[org.apache.spark.sql.Row])

  /** COUNT(*) + per-type counts + top-10 most recent station rows — small
    * collected result, everything else stays distributed. Two actions: one
    * groupBy gives the per-type counts, and their sum is COUNT(*) (every
    * row, a NULL type included, lands in one group); the top-10 is
    * [[top10Recent]] over the base view.
    */
  def stationSummary(spark: SparkSession): StationSummary = {
    val typeCounts = spark.table(Views.Base).groupBy(col("record_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    StationSummary(typeCounts.values.sum, typeCounts,
      top10Recent(spark.table(Views.Base)).collect())
  }

  /** The O2 top-10 as a DataFrame (for oracle-style comparison). */
  def top10Recent(enhanced: DataFrame): DataFrame =
    Views.latestPerStation(enhanced)
      .select(col("station_id"), col("name"), col("bikes"), col("spaces"),
        col("timestamp"))
      .orderBy(col("timestamp").desc, col("station_id"))
      .limit(10)
}
