package graft.wrm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** dt=-partitioned parquet sinks (S8/S11; reference enhanced_all.py:113-127,
  * iceberg_assets.py:18-49).
  *
  * The Hive `dt=YYYY-MM-DD` layout is preserved so partition pruning works
  * on read — at scale, a date-filtered query touches only its partitions.
  */
object Sinks {

  /** Idempotent full overwrite of the date partitions present in the frame
    * (the reference recomputes a whole date on late files — SURVEY §2.9 T4).
    * Dynamic partition overwrite leaves every other date untouched.
    */
  def overwriteDate(enhanced: DataFrame, root: String): Unit =
    enhanced
      .withColumn("dt", date_format(col("date"), "yyyy-MM-dd"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("dt").parquet(root)

  /** Compact a dt=-partitioned tree in place: a date write leaves one
    * file per write task that held rows of that date, and a tree grown by
    * appends one file per append per date; at cluster scale a year of
    * tiny files is ~1M files whose listing/open cost dwarfs the data. Rewrites
    * each date to ceil(bytes/targetBytes) files via a dt-local
    * repartition, preserving the Hive layout (partition pruning still
    * works) and row contents exactly. Dynamic partition overwrite keeps
    * untouched dates intact; set `onlyDates` to compact a subset (e.g.
    * yesterday, from a scheduled job).
    *
    * The repartition shuffles only the dates being compacted, keyed by
    * dt so each date's rows land together; file count per date is
    * computed from that date's actual bytes, not a global constant —
    * a hot date gets more files, a sparse one collapses to one.
    *
    * SAFETY — this reads `root/dt=X` while overwriting `root`, which is
    * only correct because of two barriers: (1) `repartition(n)` is a
    * round-robin shuffle that Catalyst/AQE never elides, so the scan
    * stage fully materializes every source row into shuffle files BEFORE
    * the write stage starts; (2) dynamic partition overwrite stages new
    * files and deletes the old partition at JOB COMMIT, after all write
    * tasks finish. Removing the repartition (e.g. replacing it with
    * `coalesce`, which can merge into the scan stage) would let write
    * tasks race the deletion of their own input — do not.
    */
  def compactDates(spark: org.apache.spark.sql.SparkSession, root: String,
                   targetBytes: Long = 128L << 20,
                   onlyDates: Seq[String] = Nil): Unit = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dates = fs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("dt="))
      .map(s => s.getPath)
      .filter(p => onlyDates.isEmpty || onlyDates.contains(p.getName.stripPrefix("dt=")))
    dates.foreach { p =>
      val bytes = fs.getContentSummary(p).getLength
      val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      val dt = p.getName.stripPrefix("dt=")
      spark.read.parquet(p.toString)
        .withColumn("dt", lit(dt))
        .repartition(nFiles)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("dt").parquet(root)
    }
  }
}
