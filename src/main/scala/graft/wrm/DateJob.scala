package graft.wrm

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The per-date job (SURVEY §2.9 T3/T4; reference processed_all.py:69-85
  * then enhanced_all.py:53-101): parse every raw file under
  * `rawRoot/dt=<date>`, enhance, assert the column order and validate.
  * The fixture (`WrmQueries.enhancedAll`) and the stream
  * (`graft.streaming.WrmStreamPipeline`) both reach parse → enhance →
  * validate only through here; `Sinks.overwriteDate` writes the result.
  *
  * Returns the validated frame, which reads the rows `processPartition`
  * stored, so the write that follows does not re-read the raw directory.
  * Throws `NoFilesException`/`NoValidDataException` when the date has no
  * file or no valid row, and `SchemaValidationException` when a check fails.
  */
object DateJob {

  def enhanced(spark: SparkSession, rawRoot: String, date: String,
               processedAt: Option[java.sql.Timestamp] = None): DataFrame = {
    val enhanced = Enhance.enhance(
      RawParser.processPartition(spark, s"$rawRoot/dt=$date"), date, processedAt)
    Validation.assertColumnOrder(enhanced, Schemas.enhancedColumns)
    Validation.validate(enhanced, Validation.enhancedChecks)
  }
}
