package graft.streaming

import graft.wrm.{Enhance, RawParser, Schemas, Sinks}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingest pipeline (SURVEY §2.9 T1-T8): the Spark-native
  * re-expression of the reference's sensor → per-date job loop
  * (sensors/stations.py + processed_all/enhanced_all).
  *
  *  - T1: 30 s trigger (reference minimum_interval_seconds=30);
  *  - T2: new-files-only offset tracking = the file source's checkpoint;
  *  - T3/T4: per-date routing + late-file recompute — each micro-batch
  *    groups rows by their `dt=` partition and overwrites exactly those
  *    date partitions (dynamic partition overwrite = idempotent re-runs);
  *  - T8: per-batch try/catch keeps the query alive like the sensor's
  *    SkipReason loop.
  *
  * At scale: the file source lists incrementally (maxFilesPerTrigger
  * bounds batch size), parsing is the same narrow expression stack as
  * batch, and the only shuffle is the date-partition write.
  */
object WrmStreamPipeline {

  final case class RawPayload(source: String, ts: java.sql.Timestamp, payload: String)

  /** T5: streaming content-hash dedup with the reference's exact scope
    * (raw_all.py:83-150, SURVEY §7.4.6): a payload is dropped only when it
    * equals the MOST RECENT kept payload of its source — older duplicates
    * pass. State per key = one SHA-256 hash (trivially bounded; the
    * streaming dual of DedupGate.filterIngest).
    */
  def dedupConsecutive(payloads: org.apache.spark.sql.Dataset[RawPayload])
      : org.apache.spark.sql.Dataset[RawPayload] = {
    import payloads.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    payloads
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout())(
        (source: String, batch: Iterator[RawPayload], state: GroupState[String]) => {
          val kept = Seq.newBuilder[RawPayload]
          var last = state.getOption
          batch.toSeq.sortBy(p => p.ts.getTime).foreach { p =>
            val d = graft.wrm.DedupGate.check(p.payload, last)
            if (!d.isDuplicate) { kept += p; last = Some(d.hash) }
          }
          last.foreach(state.update)
          kept.result().iterator
        })
  }

  final case class Config(
      rawRoot: String,
      enhancedRoot: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds"),
      maxFilesPerTrigger: Option[Int] = None)

  /** The batch transform applied to each micro-batch: parse + enhance,
    * deriving each row's partition date from its source path (`dt=` segment
    * — sensors/stations.py:74 regex).
    */
  def transformBatch(batch: DataFrame): DataFrame = {
    val parsed = RawParser.parse(batch)
    val withDate = parsed.withColumn("_dt",
      regexp_extract(col("s3_source_key"), "dt=(\\d{4}-\\d{2}-\\d{2})", 1))
    // Enhance per-row using the extracted date (the reference enhances one
    // date per run; deriving it per-row handles mixed-date micro-batches).
    withDate
      .withColumn("record_type",
        Enhance.recordType(col("station_id"), col("name")))
      .withColumn("date", try_to_timestamp(col("_dt"), lit("yyyy-MM-dd")))
      .withColumn("processed_at", current_timestamp())
      .select(Schemas.enhancedColumns.map(col): _*)
  }

  /** Start the streaming query. Each micro-batch is parsed and APPENDED
    * under its rows' dt= partitions (at-least-once on crash replay: a
    * batch that wrote but didn't commit its checkpoint re-appends on
    * restart — readers needing exactly-once dedup on (s3_source_key,
    * station_id, timestamp) or use the W1 latest-per-key view, which
    * tolerates duplicates by construction). The reference's late-data
    * FULL-recompute path (T4) is the batch job: re-parse the date dir and
    * `Sinks.overwriteDate` it idempotently.
    *
    * A batch failure PROPAGATES (no checkpoint commit) so the file source
    * re-delivers the batch on restart — the streaming analog of the
    * sensor's skip-and-retry (T8); swallowing the error would commit the
    * offsets and silently drop those files' rows forever.
    */
  def start(spark: SparkSession, cfg: Config): StreamingQuery = {
    val reader = spark.readStream
      .option("header", "true")
      .schema(Schemas.rawSchema)
    val withLimit = cfg.maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n)).getOrElse(reader)
    val raw = withLimit
      .csv(s"${cfg.rawRoot}/dt=*/*.txt") // only snapshot files, not strays
      .select(
        (Schemas.rawColumns.map(col) :+
          input_file_name().as("s3_source_key") :+
          col("_metadata.file_modification_time").as("_file_mtime")): _*)

    raw.writeStream
      .trigger(cfg.trigger)
      .option("checkpointLocation", cfg.checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // two actions (emptiness check, append) over one parse: persist the
        // batch once, release it whether the batch succeeds or fails
        val enhanced = transformBatch(batch).persist()
        try {
          if (!enhanced.isEmpty) Sinks.appendEnhanced(enhanced, cfg.enhancedRoot)
        } catch {
          case e: Exception =>
            System.err.println(s"[wrm-stream] batch $batchId failed: ${e.getMessage}")
            throw e // fail the batch: offsets NOT committed, retried on restart
        } finally enhanced.unpersist()
        ()
      }
      .start()
  }
}
