package graft.wrm

import org.apache.spark.sql.types._

/** Fixed, declared schemas for the WRM station pipeline.
  *
  * Mirrors the reference's Pandera schemas
  * (wrm_pipeline/models/stations.py:10-31 processed, :39-60 enhanced):
  * strict column ORDER, explicit types, per-column checks. Timestamps are
  * µs-precision wall-clock (session tz UTC) per SURVEY §7.4.1.
  */
object Schemas {

  /** Raw CSV columns as they arrive from the API payload (13 string cols;
    * column 2 is the composite `ts|gmt_local|gmt_server`).
    */
  val rawColumns: Seq[String] = Seq(
    "station_id", "composite_ts", "name", "lat", "lon", "bikes", "spaces",
    "installed", "locked", "temporary", "total_docks",
    "givesbonus_acceptspedelecs_fbbattlevel", "pedelecs")

  val rawSchema: StructType =
    StructType(rawColumns.map(c => StructField(c, StringType, nullable = true)))

  /** Processed table: 17 ordered columns (models/stations.py:10-31). */
  val processedColumns: Seq[String] = Seq(
    "station_id", "name", "timestamp", "gmt_local_diff_sec",
    "gmt_servertime_diff_sec", "lat", "lon", "bikes", "spaces", "installed",
    "locked", "temporary", "total_docks",
    "givesbonus_acceptspedelecs_fbbattlevel", "pedelecs",
    "s3_source_key", "file_timestamp")

  /** Enhanced table: processed + record_type, date, processed_at — 20
    * ordered columns (models/stations.py:39-60, order enhanced_all.py:77-84).
    */
  val enhancedColumns: Seq[String] =
    processedColumns.slice(0, 15) ++ Seq("record_type") ++
      processedColumns.slice(15, 17) ++ Seq("date", "processed_at")

  val recordTypes: Seq[String] = Seq("station", "bike", "unknown")
}

