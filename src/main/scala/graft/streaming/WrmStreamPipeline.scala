package graft.streaming

import graft.wrm.{DateJob, Sinks}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingest pipeline (SURVEY §2.9 T1-T8): the Spark-native
  * re-expression of the reference's sensor → per-date job loop
  * (sensors/stations.py:69-95 + processed_all/enhanced_all).
  *
  *  - T1: 30 s trigger (reference minimum_interval_seconds=30);
  *  - T2: new-files-only offset tracking = the file source's checkpoint;
  *  - T3/T4: each micro-batch takes the `dt=` dates of its new files and
  *    recomputes each of those dates in full with `DateJob.enhanced` (late
  *    files included), like the sensor's one run request per date;
  *  - T8: a failed batch fails the query and commits no offsets.
  *
  * Exactly-once output comes from a replayable source plus an idempotent
  * sink: the file source re-delivers an uncommitted batch under the same
  * batch id, and `Sinks.overwriteDate` replaces whole date partitions, so
  * a replay rewrites the same dates and never duplicates a row.
  *
  * Cost: a trigger reads and writes every file of the dates it touches,
  * not just its new files — the cost of the reference's per-date job and
  * of the batch job. The source reads only file paths (`binaryFile`
  * selecting `path` opens no file).
  */
object WrmStreamPipeline {

  final case class Config(
      rawRoot: String,
      enhancedRoot: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds"),
      maxFilesPerTrigger: Option[Int] = None)

  /** Snapshot files in date-named directories only: every delivered file
    * yields a date, and a stray such as `dt=junk/` is never read.
    */
  private val SnapshotGlob = "dt=[0-9][0-9][0-9][0-9]-[0-9][0-9]-[0-9][0-9]/*.txt"

  /** Start the streaming query. Each micro-batch runs the per-date job for
    * the dates of its files and writes them all in one `Sinks.overwriteDate`.
    *
    * A batch failure (no valid data for a date, a failed check, a failed
    * write) PROPAGATES, so the batch commits no offsets and the file source
    * re-delivers it on restart — the streaming analog of the sensor's
    * skip-and-retry (T8); swallowing the error would commit the offsets and
    * silently drop those files' rows forever.
    */
  def start(spark: SparkSession, cfg: Config): StreamingQuery = {
    // binaryFile's fixed schema; selecting only `path` leaves `content` unread
    val reader = spark.readStream.format("binaryFile").schema("path STRING NOT NULL, " +
      "modificationTime TIMESTAMP NOT NULL, length BIGINT NOT NULL, content BINARY")
    cfg.maxFilesPerTrigger.map(n => reader.option("maxFilesPerTrigger", n)).getOrElse(reader)
      .load(s"${cfg.rawRoot}/$SnapshotGlob")
      .select(regexp_extract(col("path"), "/dt=([0-9-]{10})/[^/]*$", 1).as("date"))
      .writeStream
      .trigger(cfg.trigger)
      .option("checkpointLocation", cfg.checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val dates = batch.collect().map(_.getString(0)).distinct.sorted
        if (dates.nonEmpty)
          Sinks.overwriteDate(dates.map(DateJob.enhanced(batch.sparkSession, cfg.rawRoot, _))
            .reduce(_ unionByName _), cfg.enhancedRoot)
      }
      .start()
  }
}
