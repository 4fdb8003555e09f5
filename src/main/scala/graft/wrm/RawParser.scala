package graft.wrm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Raw WRM snapshot parsing: `.txt` CSV payloads with a composite second
  * column → the 17-column processed table.
  *
  * Reference semantics (SURVEY §2.1 S5-S7, §2.2 P1-P7,
  * assets/stations/processed_all.py):
  *  - header row per file, `#id` → `station_id` (P2);
  *  - column 2 is `epoch_seconds|gmt_local_diff|gmt_server_diff`, split on
  *    `|`; rows with a malformed composite are DROPPED row-level (P1,
  *    processed_all.py:144-146);
  *  - a cast failure anywhere in a file drops the WHOLE file (not the row —
  *    processed_all.py:197-199 `continue`s the file loop; SURVEY §7.4.4);
  *  - `file_timestamp` extracted from the filename
  *    (`wrm_stations_YYYY-MM-DD_HH-MM-SS.txt`), falling back to file
  *    modification time (S7, processed_all.py:99-106);
  *  - `s3_source_key` lineage column = source file path (P6);
  *  - empty result after parsing → error (processed_all.py:218-220).
  *
  * Spark-first shape: one `spark.read.csv` (per-file header skip is
  * built-in), pure column expressions after that, and the file-level abort
  * implemented as a windowed any-bad-row flag — no driver-side loop, scales
  * to any number of files. `processPartition` materializes the parsed date
  * once, so the emptiness check, validation and the sink all read the same
  * stored rows instead of each re-running the CSV scan and the window.
  */
object RawParser {

  final class NoValidDataException(msg: String) extends RuntimeException(msg)
  final class NoFilesException(msg: String) extends RuntimeException(msg)

  private val FilenameTsPattern = """wrm_stations_(\d{4}-\d{2}-\d{2}_\d{2}-\d{2}-\d{2})\.txt$"""

  /** Read a directory (or glob) of raw `.txt` snapshot files into the raw
    * 13-string-column frame with lineage columns attached.
    */
  def readRaw(spark: SparkSession, path: String): DataFrame = {
    // S5 semantics: listing with zero files is a distinct error from files
    // that parse to nothing (processed_all.py:77-78 vs :218-220).
    val hPath = new org.apache.hadoop.fs.Path(path, "*.txt")
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing = fs.globStatus(hPath)
    if (listing == null || listing.isEmpty)
      throw new NoFilesException(s"No raw files found under $path")
    spark.read
      .option("header", "true") // header skipped per file
      .schema(Schemas.rawSchema)
      // read exactly what the listing validated — a stray non-.txt file in
      // the partition dir must not be ingested as snapshot data
      .csv(new org.apache.hadoop.fs.Path(path, "*.txt").toString)
      .select(
        (Schemas.rawColumns.map(col) :+
          input_file_name().as("s3_source_key") :+
          col("_metadata.file_modification_time").as("_file_mtime")): _*)
  }

  /** Filename-embedded timestamp with mtime fallback (S7). try_to_timestamp:
    * a non-matching filename extracts "" which must yield null (not an ANSI
    * parse error) for the coalesce fallback to kick in.
    */
  def fileTimestamp(sourceKey: Column, mtime: Column): Column =
    coalesce(
      try_to_timestamp(
        regexp_extract(sourceKey, FilenameTsPattern, 1), lit("yyyy-MM-dd_HH-mm-ss")),
      mtime)

  /** Parse + type the raw frame into the processed table. */
  def parse(raw: DataFrame): DataFrame = {
    val parts = split(col("composite_ts"), "\\|")

    // P1: drop rows whose composite column doesn't split into exactly 3.
    val wellFormed = raw
      .withColumn("_parts", parts)
      .filter(size(col("_parts")) === 3)

    def boolCol(c: Column): Column = when(lower(c) === "true", true)
      .when(lower(c) === "false", false)
      .otherwise(lit(null).cast(BooleanType))

    // try_cast (not cast): under ANSI mode a plain cast throws on malformed
    // input; the parser's contract is cast-failure → null → file-level drop.
    val casted = wellFormed.select(
      col("station_id"),
      col("name"),
      col("_parts").getItem(0).try_cast(DoubleType).as("_epoch"),
      col("_parts").getItem(1).try_cast(LongType).as("gmt_local_diff_sec"),
      col("_parts").getItem(2).try_cast(LongType).as("gmt_servertime_diff_sec"),
      col("lat").try_cast(DoubleType).as("lat"),
      col("lon").try_cast(DoubleType).as("lon"),
      col("bikes").try_cast(LongType).as("bikes"),
      col("spaces").try_cast(LongType).as("spaces"),
      boolCol(col("installed")).as("installed"),
      boolCol(col("locked")).as("locked"),
      boolCol(col("temporary")).as("temporary"),
      col("total_docks").try_cast(LongType).as("total_docks"),
      // P4: null-tolerant bool — missing/empty → false
      coalesce(lower(col("givesbonus_acceptspedelecs_fbbattlevel")) === "true",
        lit(false)).as("givesbonus_acceptspedelecs_fbbattlevel"),
      col("pedelecs").try_cast(LongType).as("pedelecs"),
      col("s3_source_key"),
      fileTimestamp(col("s3_source_key"), col("_file_mtime")).as("file_timestamp"))

    // File-level abort (SURVEY §7.4.4): any cast failure (null result from a
    // non-null required source) poisons the whole source file.
    val requiredAfterCast = Seq(
      "_epoch", "gmt_local_diff_sec", "gmt_servertime_diff_sec", "lat", "lon",
      "bikes", "spaces", "installed", "locked", "temporary", "total_docks",
      "pedelecs", "station_id", "name")
    val rowBad = requiredAfterCast.map(c => col(c).isNull.cast("int")).reduce(_ + _) > 0
    val fileWindow = org.apache.spark.sql.expressions.Window.partitionBy(col("s3_source_key"))
    val processed = casted
      .withColumn("_row_bad", rowBad)
      .withColumn("_file_bad", max(col("_row_bad")).over(fileWindow))
      .filter(!col("_file_bad"))
      // P5: epoch seconds → µs timestamp (fractional seconds preserved)
      .withColumn("timestamp", timestamp_seconds(col("_epoch")))
      .select(Schemas.processedColumns.map(col): _*)
    processed
  }

  /** Full read→parse for one partition directory; errors if nothing valid
    * survives (processed_all.py:218-220 semantics).
    *
    * The parsed rows are materialized once with an eager `localCheckpoint`
    * and the returned frame reads them, so the downstream enhance →
    * validate → write chain neither re-scans the raw text nor re-runs the
    * file-level-abort window, and the rows validated are the rows written
    * even if the raw directory changes meanwhile. Eager, so that one job
    * stores every partition before the emptiness check and before the frame
    * is returned; a lazy one would be filled by whichever action runs first
    * (here the check's `limit(1)`) plus a follow-up job for the partitions
    * that action skipped. A local checkpoint rather than `persist`: its
    * blocks belong to the returned frame's RDD and the `ContextCleaner`
    * frees them once that frame is unreachable, whereas a cache entry would
    * have no owner to `unpersist` it. The blocks are MEMORY_AND_DISK, so a
    * large date spills instead of failing.
    */
  def processPartition(spark: SparkSession, path: String): DataFrame = {
    val out = parse(readRaw(spark, path)).localCheckpoint(eager = true)
    if (out.isEmpty)
      throw new NoValidDataException("No valid data found after processing")
    out
  }
}
