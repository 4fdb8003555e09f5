package graft.wrm

import graft.GraftQuery
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's own domain surface exposed as queries() entries.
  *
  * The raw→enhanced parse itself isn't expressible as ANSI SQL over the
  * driver's tables (ScalaTest specs pin those semantics against
  * hand-computed fixtures), but every VIEW/aggregate over the enhanced
  * table is: `enhancedAll` dumps the enhanced frame to a fixed parquet
  * path once per session, and each query's oracle SQL reads that dump via
  * `read_parquet` — so the reference's flagship queries (latest-per-station,
  * daily summary, top-10, density grid, bike movement; DDL in
  * create_enhanced_views.py:60-95 and iceberg_assets.py:159-201) are
  * hash-checked against DuckDB instead of rows-only trusted.
  */
object WrmQueries {

  private val Dates = Seq("2025-05-01", "2025-05-02")

  /** Where `enhancedAll` dumps the enhanced frame for the DuckDB oracle
    * (the driver's DuckDB registers only the testdata tables, so domain
    * oracles reference this dump by absolute path).
    */
  val DumpPath = s"${WrmScale.root}/enhanced_parquet"

  private val Dump = s"read_parquet('$DumpPath/*.parquet')"

  /** Composite chronological key (file_timestamp, timestamp) as one
    * zero-padded sortable string — DuckDB's arg_min/arg_max take a single
    * scalar ordering argument, not a struct.
    */
  private val OrderKey =
    """printf('%020d%020d', epoch_us(file_timestamp), epoch_us("timestamp"))"""

  /** Latest station row per station_id, as SQL (mirrors
    * Views.latestPerStation: rn over date DESC, file_timestamp DESC,
    * timestamp DESC).
    */
  private val LatestSql = s"""
    SELECT * FROM (
      SELECT *, row_number() OVER (PARTITION BY station_id
        ORDER BY "date" DESC, file_timestamp DESC, "timestamp" DESC) AS rn
      FROM $Dump WHERE record_type = 'station') latest_rn
    WHERE rn = 1"""

  /** Full ingest pipeline over the deterministic fixture: the per-date
    * job (`DateJob.enhanced`) for each date, then a union.
    *
    * Memoized + cached per session: seven registry queries consume this
    * frame; re-running the parse/validate pipeline (with its windowed
    * file-abort pass and validation aggregates) per query would redo
    * identical work. The first computation also writes the oracle dump —
    * the coalesce(1) write materializes every cached partition in one job,
    * so dump and cache are guaranteed consistent.
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[SparkSession, DataFrame]()

  /** Pinned processing time: the fixture surface must be byte-identical
    * across JVM sessions — the DuckDB oracle may read a dump written by a
    * different session than the Spark result it compares against (e.g.
    * Verify dumps, then a test session re-dumps, then compare runs), and
    * with a pinned stamp every session's dump carries the same values, so
    * any rewrite is content-idempotent.
    */
  private val FixtureProcessedAt =
    // from an Instant, NOT Timestamp.valueOf(string) — valueOf interprets
    // the string in the JVM default timezone, which would break the
    // byte-identical-across-sessions invariant under a different TZ
    java.sql.Timestamp.from(java.time.Instant.parse("2025-05-03T00:00:00Z"))

  def enhancedAll(spark: SparkSession): DataFrame = {
    cache.keySet.removeIf(s => s.sparkContext.isStopped) // don't pin dead sessions
    cache.computeIfAbsent(spark, { s =>
      val root = WrmFixture.defaultRoot.toString
      val cached = Dates.map(DateJob.enhanced(s, root, _, Some(FixtureProcessedAt)))
        .reduce(_ unionByName _).cache()
      cached.coalesce(1).write.mode("overwrite").parquet(DumpPath)
      cached
    })
  }

  /** The enhanced table AT REST: the six view/aggregate queries read the
    * staged parquet dump (after ensuring it exists) instead of re-running
    * the text-parse pipeline — exactly the reference's architecture, where
    * the DuckDB views read the enhanced parquet written by a prior asset
    * (create_enhanced_views.py:41,60-65), and the same input the oracle
    * SQL reads. Only `wrm_pipeline_enhanced` keeps computing the live
    * pipeline, because its oracle-vs-dump comparison IS the round-trip
    * fidelity check. Memoized: `spark.read.parquet` re-lists and re-reads
    * footers per call.
    */
  private val atRest = new java.util.concurrent.ConcurrentHashMap[SparkSession, DataFrame]()

  def enhancedAtRest(spark: SparkSession): DataFrame = {
    atRest.keySet.removeIf(s => s.sparkContext.isStopped)
    atRest.computeIfAbsent(spark, { s =>
      enhancedAll(s) // ensure the dump exists (no job if already memoized)
      s.read.parquet(DumpPath)
    })
  }

  /** Dump-identity check: the oracle reads the dumped enhanced table back,
    * proving the parquet round-trip (schema + values, incl. µs timestamps)
    * is faithful. The parse semantics themselves are pinned by the specs.
    */
  val qPipeline = GraftQuery(
    "wrm_pipeline_enhanced",
    (s, _) => enhancedAll(s).orderBy(col("date"), col("file_timestamp"),
      col("station_id")),
    Some(s"""
      SELECT * FROM $Dump
      ORDER BY "date", file_timestamp, station_id"""))

  val qLatest = GraftQuery(
    "wrm_latest_per_station",
    (s, _) => Views.latestPerStation(enhancedAtRest(s))
      .select(col("station_id"), col("name"), col("bikes"), col("spaces"),
        col("timestamp"), col("date"))
      .orderBy(col("station_id")),
    Some(s"""
      SELECT station_id, name, bikes, spaces, "timestamp", "date"
      FROM ($LatestSql)
      ORDER BY station_id"""))

  val qDailySummary = GraftQuery(
    "wrm_station_daily_summary",
    (s, _) => DailyStats.stationDailySummary(enhancedAtRest(s))
      .orderBy(col("station_id")),
    Some(s"""
      SELECT station_id, name,
             round(avg(bikes), 2) AS bikes_mean,
             max(bikes) AS bikes_max,
             min(bikes) AS bikes_min,
             round(stddev_samp(bikes), 2) AS bikes_std,
             round(avg(spaces), 2) AS spaces_mean,
             max(spaces) AS spaces_max,
             min(spaces) AS spaces_min,
             round(stddev_samp(spaces), 2) AS spaces_std,
             arg_min(total_docks, $OrderKey) AS total_docks,
             round(avg(CAST(installed AS DOUBLE)), 2) AS installed_ratio,
             arg_min("date", $OrderKey) AS partition_date
      FROM $Dump
      WHERE record_type = 'station'
      GROUP BY station_id, name
      ORDER BY station_id"""))

  val qMovement = GraftQuery(
    "wrm_bike_movement",
    (s, _) => DailyStats.bikeMovementSummary(enhancedAtRest(s))
      .orderBy(col("station_id")),
    Some(s"""
      SELECT station_id, name,
             arg_min(lat, $OrderKey) AS lat_first,
             arg_max(lat, $OrderKey) AS lat_last,
             round(stddev_samp(lat), 6) AS lat_std,
             arg_min(lon, $OrderKey) AS lon_first,
             arg_max(lon, $OrderKey) AS lon_last,
             round(stddev_samp(lon), 6) AS lon_std,
             round(avg(CAST(installed AS DOUBLE)), 2) AS installed_ratio,
             arg_min("date", $OrderKey) AS partition_date
      FROM $Dump
      WHERE record_type = 'bike'
      GROUP BY station_id, name
      ORDER BY station_id"""))

  /** Grid-density oracle transliterates Density.gridDensity's exact
    * arithmetic (same bounds, same sqrt(1000)/111320 deltas, same
    * half-open cells with top-edge clamp). lat_center and the cell
    * centers accumulate in DECIMAL on both sides, so they are summation-
    * order-independent and bit-identical; IEEE sqrt/÷ are correctly
    * rounded. Residual risk is a 1-ULP libm-vs-JVM cos() divergence,
    * which can only matter for a point within ~1 ULP of a cell edge.
    */
  val qDensity = GraftQuery(
    "wrm_density_grid",
    (s, _) => Density.gridDensity(Views.latestPerStation(enhancedAtRest(s)))
      .drop("members") // struct members verified in the spec; keep dump flat
      .orderBy(col("cell_row"), col("cell_col")),
    Some(s"""
      WITH pts AS (
        SELECT * FROM ($LatestSql)
        WHERE lat IS NOT NULL AND lon IS NOT NULL),
      bounds AS (
        SELECT min(lat) AS lat_min, max(lat) AS lat_max,
               min(lon) AS lon_min, max(lon) AS lon_max,
               CAST(sum(CAST(lat AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS lat_center
        FROM pts),
      keyed AS (
        SELECT CAST(least(floor((lat - lat_min) / (sqrt(1000.0) / 111320.0)),
                 greatest(CAST(ceil((lat_max - lat_min) / (sqrt(1000.0) / 111320.0)) AS INTEGER) - 1, 0))
               AS INTEGER) AS cell_row,
               CAST(least(floor((lon - lon_min) / (sqrt(1000.0) / (111320.0 * cos(radians(lat_center))))),
                 greatest(CAST(ceil((lon_max - lon_min) / (sqrt(1000.0) / (111320.0 * cos(radians(lat_center))))) AS INTEGER) - 1, 0))
               AS INTEGER) AS cell_col,
               bikes, record_type, lat, lon
        FROM pts CROSS JOIN bounds)
      SELECT cell_row, cell_col,
             CAST(sum(bikes) AS BIGINT) AS bike_count,
             count(CASE WHEN record_type = 'station' THEN 1 END) AS station_count,
             count(CASE WHEN record_type = 'bike' THEN 1 END) AS mobile_bike_count,
             CAST(sum(CAST(lat AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS center_lat,
             CAST(sum(CAST(lon AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS center_lon
      FROM keyed
      GROUP BY cell_row, cell_col
      ORDER BY cell_row, cell_col"""))

  val qTop10 = GraftQuery(
    "wrm_top10_recent",
    (s, _) => Summary.top10Recent(enhancedAtRest(s)),
    Some(s"""
      SELECT station_id, name, bikes, spaces, "timestamp"
      FROM ($LatestSql)
      ORDER BY "timestamp" DESC, station_id
      LIMIT 10"""))

  /** J2: per-source-file record counts (enhanced_all.py:132). */
  val qPerFileCounts = GraftQuery(
    "wrm_per_file_counts",
    (s, _) => Enhance.perFileCounts(enhancedAtRest(s))
      .orderBy(col("s3_source_key")),
    Some(s"""
      SELECT s3_source_key, file_timestamp, count(*) AS n_records
      FROM $Dump
      GROUP BY s3_source_key, file_timestamp
      ORDER BY s3_source_key"""))

  val queries: Seq[GraftQuery] = Seq(
    qPipeline, qLatest, qDailySummary, qMovement, qDensity, qTop10,
    qPerFileCounts)
}
