package graft.wrm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("overwriteDate replaces only the affected date partitions (T4 late-data path)") {
    val root = java.nio.file.Files.createTempDirectory("sinks").toString
    val enhanced = WrmQueries.enhancedAll(spark) // dates 2025-05-01, 2025-05-02
    Sinks.overwriteDate(enhanced, root)
    val before = spark.read.parquet(root)
    assert(before.count() == 72)

    // late-data recompute of 05-01 only: half the rows, recognizably new
    val recomputed = enhanced
      .filter(col("date") === lit("2025-05-01").cast("timestamp"))
      .filter(col("record_type") === "station")
    Sinks.overwriteDate(recomputed, root)

    val after = spark.read.parquet(root)
    // 05-01 fully replaced by the 24 station rows; 05-02 untouched (36)
    assert(after.filter(col("dt") === "2025-05-01").count() == 24)
    assert(after.filter(col("dt") === "2025-05-02").count() == 36)
    // idempotent: running the same overwrite again changes nothing
    Sinks.overwriteDate(recomputed, root)
    assert(spark.read.parquet(root).count() == 60)
  }

  test("compactDates: rows preserved, per-date file counts, untouched dates intact, onlyDates honored") {
    val root = java.nio.file.Files.createTempDirectory("compact").toString
    val enhanced = WrmQueries.enhancedAll(spark) // dates 2025-05-01, 2025-05-02
    // simulate the 30s-poll layout: many tiny appends → many files per date
    (1 to 5).foreach(_ => enhanced.withColumn("dt", date_format(col("date"), "yyyy-MM-dd"))
      .write.mode("append").partitionBy("dt").parquet(root))
    def files(dt: String): Seq[java.io.File] =
      new java.io.File(s"$root/dt=$dt").listFiles.toSeq
        .filter(f => f.getName.endsWith(".parquet"))
    def key(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("station_id").cast("string"), col("record_type"),
          col("s3_source_key"), col("timestamp").cast("string"), col("dt"))
        .collect().map(_.mkString("|")).sorted.toSeq
    assert(files("2025-05-01").size >= 5 && files("2025-05-02").size >= 5)
    val before = key(spark.read.parquet(root))
    assert(before.size == 72 * 5)

    // compact only 05-01: its tiny bytes collapse to exactly 1 file
    Sinks.compactDates(spark, root, onlyDates = Seq("2025-05-01"))
    assert(files("2025-05-01").size == 1)
    assert(files("2025-05-02").size >= 5) // onlyDates: 05-02 untouched
    assert(key(spark.read.parquet(root)) == before) // rows byte-identical

    // tiny targetBytes → per-date file count tracks ceil(bytes/target)
    val bytes01 = files("2025-05-01").map(_.length).sum
    val target = math.max(1L, bytes01 / 3)
    val expect = math.ceil(bytes01.toDouble / target).toInt
    Sinks.compactDates(spark, root, targetBytes = target, onlyDates = Seq("2025-05-01"))
    assert(files("2025-05-01").size == expect)
    assert(key(spark.read.parquet(root)) == before)

    // full-tree compaction hits every date
    Sinks.compactDates(spark, root)
    assert(files("2025-05-01").size == 1 && files("2025-05-02").size == 1)
    assert(key(spark.read.parquet(root)) == before)
    // idempotent: re-running changes nothing
    Sinks.compactDates(spark, root)
    assert(key(spark.read.parquet(root)) == before)
  }

  test("GraftSession-built sessions have the extension SQL functions injected") {
    // no manual TextExprs.register — GraftExtensions did it at build time
    val row = spark.sql(
      "SELECT graft_simhash(array('a','b')) AS h, graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .collect()(0)
    assert(row.getLong(0) != 0L)
    assert(row.getDouble(1) == 1.0)
  }
}
