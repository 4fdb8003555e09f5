package graft.wrm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Processed → enhanced: record classification + metadata columns + strict
  * column order (SURVEY §2.2 P8/P9/P7; reference enhanced_all.py:53-84).
  */
object Enhance {

  /** P8 classification (enhanced_all.py:56-68):
    *  - 'station': all-digit id AND name not starting 'BIKE'
    *  - 'bike':    id starting 'fb' AND name starting 'BIKE'
    *  - else 'unknown'
    * Null name → neither predicate fires (pandas `na=False`), case-sensitive
    * prefixes, `^[0-9]+$` (false on empty — matches str.isdigit).
    */
  def recordType(stationId: Column, name: Column): Column =
    when(stationId.rlike("^[0-9]+$") &&
      !coalesce(name.startsWith("BIKE"), lit(false)), "station")
      .when(stationId.startsWith("fb") &&
        coalesce(name.startsWith("BIKE"), lit(false)), "bike")
      .otherwise("unknown")

  /** Attach record_type, partition date, processed_at; emit the 20-column
    * enhanced order (enhanced_all.py:73-84).
    *
    * `processed_at` is bound driver-side at plan construction — one
    * wall-clock read per enhance() call, like the reference's single
    * `pd.Timestamp.now()` stamp — so a cache eviction / partition
    * recompute cannot produce rows with divergent processing times.
    * Callers that need the WHOLE output reproducible across JVM sessions
    * (the oracle-dump fixture) pin `processedAt` explicitly.
    */
  def enhance(processed: DataFrame, partitionDate: String,
              processedAt: Option[java.sql.Timestamp] = None): DataFrame =
    processed
      .withColumn("record_type", recordType(col("station_id"), col("name")))
      .withColumn("date", lit(partitionDate).cast("timestamp"))
      .withColumn("processed_at",
        lit(processedAt.getOrElse(new java.sql.Timestamp(System.currentTimeMillis()))))
      .select(Schemas.enhancedColumns.map(col): _*)

  /** J2 per-file record counts (enhanced_all.py:132:
    * `groupby(['s3_source_key','file_timestamp']).size()`) — lineage
    * metadata for monitoring ingest volume per source file.
    */
  def perFileCounts(enhanced: DataFrame): DataFrame =
    enhanced
      .groupBy(col("s3_source_key"), col("file_timestamp"))
      .agg(count(lit(1)).as("n_records"))
}
