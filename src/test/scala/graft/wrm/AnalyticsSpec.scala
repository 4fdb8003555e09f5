package graft.wrm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("daily stats: stddev is sample (ddof=1), null for 1-row groups") {
    val df = Seq(
      ("001", "S1", 2L, 10L, true, ts("2025-05-01 10:00:00"), ts("2025-05-01 10:00:00")),
      ("001", "S1", 4L, 8L, true, ts("2025-05-01 11:00:00"), ts("2025-05-01 11:00:00")),
      ("001", "S1", 6L, 6L, false, ts("2025-05-01 12:00:00"), ts("2025-05-01 12:00:00")),
      ("002", "S2", 5L, 5L, true, ts("2025-05-01 10:00:00"), ts("2025-05-01 10:00:00")))
      .toDF("station_id", "name", "bikes", "spaces", "installed", "timestamp", "file_timestamp")
      .withColumn("record_type", lit("station"))
      .withColumn("total_docks", lit(15L))
      .withColumn("date", lit("2025-05-01").cast("timestamp"))
    val out = DailyStats.stationDailySummary(df).orderBy("station_id").collect()
    val s1 = out(0)
    assert(s1.getAs[Double]("bikes_mean") == 4.0)
    assert(s1.getAs[Double]("bikes_std") == 2.0) // sample stddev of 2,4,6
    assert(s1.getAs[Double]("installed_ratio") == 0.67) // round(2/3, 2)
    val s2 = out(1)
    assert(s2.isNullAt(s2.fieldIndex("bikes_std"))) // 1-row group → null
  }

  test("daily stats round an exact-half mean as DuckDB and pandas do (383/40 → 9.57)") {
    // 383/40 and 403/40 print as 9.575 and 10.075 but are stored just
    // below the half: rounding the binary value gives 9.57 and 10.07.
    val rows = (0 until 40).map { i =>
      ("001", "S1", if (i < 23) 10L else 9L, if (i < 3) 11L else 10L, true,
        ts(f"2025-05-01 10:$i%02d:00"), ts(f"2025-05-01 10:$i%02d:00"))
    }
    val df = rows
      .toDF("station_id", "name", "bikes", "spaces", "installed", "timestamp", "file_timestamp")
      .withColumn("record_type", lit("station"))
      .withColumn("total_docks", lit(21L))
      .withColumn("date", lit("2025-05-01").cast("timestamp"))
    assert(rows.map(_._3).sum == 383L && rows.map(_._4).sum == 403L)
    val r = DailyStats.stationDailySummary(df).collect()(0)
    assert(r.getAs[Double]("bikes_mean") == 9.57)
    assert(r.getAs[Double]("spaces_mean") == 10.07)
  }

  test("movement summary: first/last follow chronological order, not shuffle order") {
    val df = Seq(
      // deliberately out of order: later file first
      ("fb1", "BIKE 1", 51.30, 17.30, ts("2025-05-01 12:00:00"), ts("2025-05-01 12:00:00")),
      ("fb1", "BIKE 1", 51.10, 17.10, ts("2025-05-01 10:00:00"), ts("2025-05-01 10:00:00")),
      ("fb1", "BIKE 1", 51.20, 17.20, ts("2025-05-01 11:00:00"), ts("2025-05-01 11:00:00")))
      .toDF("station_id", "name", "lat", "lon", "timestamp", "file_timestamp")
      .withColumn("record_type", lit("bike"))
      .withColumn("installed", lit(true))
      .withColumn("date", lit("2025-05-01").cast("timestamp"))
    val r = DailyStats.bikeMovementSummary(df).collect()(0)
    assert(r.getAs[Double]("lat_first") == 51.10)
    assert(r.getAs[Double]("lat_last") == 51.30)
    assert(r.getAs[Double]("lon_first") == 17.10)
    assert(r.getAs[Double]("lon_last") == 17.30)
  }

  test("grid density: known 2x2 layout lands points in the right cells") {
    // ~31.6m cells; 0.001° lat ≈ 111m → points 0.0005° apart share a cell
    // only if within the same 31.6m band. Construct 4 well-separated points.
    val df = Seq(
      ("001", "S1", 51.1000, 17.0000, 5L, "station"),
      ("002", "S2", 51.1001, 17.0001, 3L, "station"),  // ~11m from S1 → same cell
      ("003", "S3", 51.1100, 17.0000, 7L, "station"),  // ~1.1km north → different row
      ("fb1", "BIKE 1", 51.1000, 17.0160, 1L, "bike")) // ~1.1km east → different col
      .toDF("station_id", "name", "lat", "lon", "bikes", "record_type")
    val cells = Density.gridDensity(df).collect()
    assert(cells.length == 3)
    val byCell = cells.map(r => (r.getInt(0), r.getInt(1)) -> r).toMap
    val c00 = byCell((0, 0))
    assert(c00.getAs[Long]("bike_count") == 8L) // S1+S2
    assert(c00.getAs[Long]("station_count") == 2L)
    val members = c00.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("members")
    assert(members.map(_.getString(0)).sorted.toSeq == Seq("001", "002"))
    // bike-only cell tallies mobile bikes
    val bikeCell = cells.find(_.getAs[Long]("mobile_bike_count") == 1L)
    assert(bikeCell.isDefined)
  }

  test("marker sizes and map zoom follow the reference's log-scale contract") {
    val cells = Seq((0, 0, 0L), (0, 1, 5L), (1, 0, 1000L))
      .toDF("cell_row", "cell_col", "bike_count")
    val sized = Density.withMarkerSize(cells)
      .select("bike_count", "marker_size")
      .as[(Long, Double)].collect().toMap
    assert(sized(0L) == 5.0)                        // max(5, ln(1)*15) floor
    assert(math.abs(sized(5L) - math.log(6.0) * 15) < 1e-12)
    assert(math.abs(sized(1000L) - math.log(1001.0) * 15) < 1e-12)
    // zoom: max(8, min(15, 12 - log10(max span)))
    assert(Density.mapZoom(0.1, 0.05) == 13.0)      // 12 - (-1) = 13
    assert(Density.mapZoom(100.0, 1.0) == 10.0)     // 12 - 2 = 10
    assert(Density.mapZoom(1e-9, 1e-9) == 15.0)     // clamped high
    assert(Density.mapZoom(1e9, 1e9) == 8.0)        // clamped low
  }

  test("density analyze: totals + top10 ordering") {
    val latest = Views.latestPerStation(WrmQueries.enhancedAll(spark))
    val res = Density.analyze(latest)
    assert(res.nStations == 8)
    assert(res.top10.nonEmpty)
    val counts = res.top10.map(_.getAs[Long]("bike_count"))
    assert(counts.sameElements(counts.sortBy(-_: Long)))
  }

  test("station summary collects totals, type counts, top10") {
    Views.register(spark, WrmQueries.enhancedAll(spark))
    val s = Summary.stationSummary(spark)
    assert(s.totalRecords == 72)
    assert(s.recordTypeCounts == Map("station" -> 48, "bike" -> 24))
    assert(s.top10Recent.length == 8) // only 8 stations exist
  }
}
