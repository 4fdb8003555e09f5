package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamReader, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType

/** How a registry stream row is staged and run: every `stream_*` row
  * hands its query to [[toTable]], which streams one staged testdata
  * table through it as a real AvailableNow query into the memory sink
  * and returns the final table. The rows keep only their operators and
  * their final reduce.
  */
object StreamRun {

  /** A table copied into a staging directory (streaming file sources
    * require directories), with its inferred schema and the source's
    * parquet bytes (the partition-sizing input).
    */
  private final case class Staged(dir: String, schema: StructType, bytes: Long)

  /** Memoized per (sfDir, table): the copy and footer read are setup, not
    * part of any streaming operator's work.
    */
  private val staged = new java.util.concurrent.ConcurrentHashMap[(String, String), Staged]()

  private def stage(spark: SparkSession, sfDir: String, table: String): Staged =
    staged.computeIfAbsent((sfDir, table), { _ =>
      val src = Paths.get(s"$sfDir/$table.parquet")
      val bytes = parquetSize(src)
      val d = Paths.get(stagingDir(spark, s"${table}_stream", bytes))
      if (sys.env.contains("SPARK_GRAFT_STREAM_MAX_FILES") &&
          spark.read.parquet(src.toString).schema.fieldNames.contains("ts"))
        stageTimeBucketed(spark, src, d)
      else stageParquet(src, d)
      Staged(d.toString, spark.read.parquet(d.toString).schema, bytes)
    })

  /** Stream `sfDir`'s `table` through `query` as one AvailableNow run into
    * the memory sink and return the sink's final table. The stream confs
    * (shuffle partitions, no-data micro-batches) hold only for the run
    * and are restored on every exit. `name` prefixes the query name the
    * soak metrics report.
    */
  def toTable(spark: SparkSession, sfDir: String, table: String, name: String,
              mode: String, noDataBatches: Boolean = false)
             (query: DataFrame => DataFrame): DataFrame = {
    val src = stage(spark, sfDir, table)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", streamPartitionsFor(src.bytes).toString)
    // The watermark-advancing no-data batch costs a full state
    // load/evict/commit cycle (~0.7 s here) and emits nothing for most of
    // these sinks: complete mode emits every batch, update mode emits on
    // arrival, and an inner join emits matches on arrival, never on
    // watermark. APPEND-mode aggregations are the exception — they emit
    // ON watermark passage, so the final watermark's no-data batch is
    // what flushes the last closed windows (without it the append session
    // run emits NOTHING on a one-batch AvailableNow source) — those runs
    // pass noDataBatches=true.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", noDataBatches.toString)
    try {
      registerMetricsListener(spark) // no-op unless SPARK_GRAFT_STREAM_METRICS
      val qName = s"${name}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      query(withMaxFiles(spark.readStream.schema(src.schema)).parquet(src.dir))
        .writeStream.outputMode(mode).format("memory").queryName(qName)
        .option("checkpointLocation", stagingDir(spark, qName))
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
      spark.table(qName)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
    }
  }

  /** Parquet payload bytes at `src` — a single file, or the part-file sum
    * when the source is a Spark-written directory (e.g. ScaleUp output).
    */
  private def parquetSize(src: Path): Long =
    if (Files.isDirectory(src)) parquetParts(src).map(Files.size).sum
    else Files.size(src)

  /** The `.parquet` files directly under `dir`. */
  private def parquetParts(dir: Path): Seq[Path] = {
    // Files.list holds a directory handle until closed
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    finally s.close()
  }

  /** Copy `src` into `destDir`: flat part-file copy for a directory
    * source, plain copy for a single file. Both testdata layouts (driver
    * single-file fixtures, Spark-written directories) must stage — a bare
    * Files.copy of a directory creates an EMPTY dir and every stream
    * query on that corpus dies at schema inference.
    */
  private def stageParquet(src: Path, destDir: Path): Unit =
    if (Files.isDirectory(src))
      parquetParts(src).foreach(p => Files.copy(p, destDir.resolve(p.getFileName)))
    else Files.copy(src, destDir.resolve(src.getFileName))

  /** Soak-mode staging: multi-batch file consumption must deliver
    * event-time-ordered micro-batches — the arrival order a production
    * file feed provides — or watermark semantics CORRECTLY drop later
    * batches' rows as late (the r17 soak caught exactly this:
    * stream_purchase_view_join lost ~80% of its matches when every
    * staged part file spanned the whole time range, so batch 1's
    * watermark aged out batches 2..10 — right per the watermark
    * contract, wrong as a delivery model). Range-partition the source by
    * raw event time into ascending buckets and pin strictly increasing
    * mtimes, so FileStreamSource's (mtime, path) order IS time order;
    * every windowed/stateful operator is insensitive to the re-layout.
    */
  private def stageTimeBucketed(spark: SparkSession, src: Path, destDir: Path): Unit = {
    spark.read.parquet(src.toString)
      .repartitionByRange(100, col("ts"))
      .write.mode("overwrite").parquet(destDir.toString)
    val files = parquetParts(destDir).sortBy(_.getFileName.toString)
    val base = System.currentTimeMillis() - files.size * 1000L
    files.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
    }
  }

  /** Micro-batch slicing for soak runs (VERDICT r16 item 3): the file
    * source admits at most SPARK_GRAFT_STREAM_MAX_FILES files per
    * micro-batch, so setting 10 against the 100-part sf10 staging dirs
    * turns every one-shot AvailableNow gate into a ≥10-micro-batch soak
    * of the SAME query against the SAME batch oracle — the oracles are
    * composition-independent by design (dedup keeps a min, windows
    * re-aggregate, latest-per-key keeps a max), so the final table must
    * hash-match whatever the batch slicing. Unset = the historical
    * single-batch gate behavior.
    */
  private def withMaxFiles(r: DataStreamReader): DataStreamReader =
    sys.env.get("SPARK_GRAFT_STREAM_MAX_FILES")
      .fold(r)(v => r.option("maxFilesPerTrigger", v))

  /** Per-batch state-store telemetry for the soak (VERDICT r16 item 3):
    * when SPARK_GRAFT_STREAM_METRICS names a file, every micro-batch
    * appends one JSON line — input rows, batch wall, and each stateful
    * operator's rows/memory/commit time — the evidence for the SCALE.md
    * state-growth table. Registered once per JVM; a no-op otherwise.
    */
  private val metricsRegistered = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def registerMetricsListener(spark: SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_STREAM_METRICS").foreach { path =>
      if (metricsRegistered.compareAndSet(false, true)) {
        spark.streams.addListener(new StreamingQueryListener {
          import StreamingQueryListener._
          override def onQueryStarted(e: QueryStartedEvent): Unit = ()
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(e: QueryProgressEvent): Unit = {
            val p = e.progress
            val states = p.stateOperators.toSeq.map { s =>
              ListMap("operator" -> s.operatorName, "numRowsTotal" -> s.numRowsTotal,
                "numRowsUpdated" -> s.numRowsUpdated, "numRowsRemoved" -> s.numRowsRemoved,
                "memoryUsedBytes" -> s.memoryUsedBytes, "commitTimeMs" -> s.commitTimeMs)
            }
            val line = graft.Json.write(ListMap(
              "query" -> Option(p.name).getOrElse(p.id.toString),
              "batchId" -> p.batchId, "numInputRows" -> p.numInputRows,
              "batchDurationMs" -> p.batchDuration, "stateOperators" -> states)) + "\n"
            StreamRun.this.synchronized {
              Files.write(Paths.get(path),
                line.getBytes(java.nio.charset.StandardCharsets.UTF_8),
                java.nio.file.StandardOpenOption.CREATE,
                java.nio.file.StandardOpenOption.APPEND)
            }
          }
        })
      }
    }

  /** Stateful-operator parallelism for the AvailableNow stream runs: the
    * shuffle-partition count at query start fixes the number of
    * state-store instances. On fixture-scale state, 32 instances of
    * init/commit overhead dominate a one-batch run whose whole state fits
    * in a handful, and 4 measured best; at volume that layout serializes —
    * the r16 StageProfile of stream_session_window at sf10 showed its
    * stateful stage as 4 tasks of ~28.5 s each (114 s of task time behind
    * a 4-way bottleneck, over half the row's wall). So the instance count
    * scales with the source's parquet bytes (~1 instance per 8 MB),
    * clamped to [4, 32], the same sizing rule a cluster job applies per
    * state volume. Layout only — session identity is event-time-derived,
    * so results are partition-count independent (the sf10 streaming gate
    * runs green at any setting).
    */
  private def streamPartitionsFor(bytes: Long): Int =
    math.min(32, math.max(4, (bytes / (8L << 20)).toInt))

  /** Staging directories (checkpoints, staged sources) made by
    * [[stagingDir]], deleted at JVM exit.
    */
  private val stagingDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  locally {
    // deleteOnExit can't remove non-empty directories — a shutdown hook
    // deletes the trees recursively, or checkpoint/state files would leak
    // across runs
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      stagingDirs.forEach { d =>
        try {
          Files.walk(d).sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach(p => { try Files.deleteIfExists(p) catch { case _: Exception => () } })
        } catch { case _: Exception => () }
      }
    }))
  }

  /** Spark's configured local dir, where stream runs stage their source
    * copies and checkpoints: the first entry of `SPARK_LOCAL_DIRS`, else
    * `spark.local.dir`, else `java.io.tmpdir` — the order Spark itself
    * resolves its scratch space in, so the streams write where the
    * deployment put Spark's storage.
    */
  private[streaming] def stagingRoot(env: Map[String, String],
                                     conf: org.apache.spark.SparkConf): String = {
    def first(dirs: String) = dirs.split(",").map(_.trim).find(_.nonEmpty)
    env.get("SPARK_LOCAL_DIRS").flatMap(first)
      .orElse(conf.getOption("spark.local.dir").flatMap(first))
      .getOrElse(System.getProperty("java.io.tmpdir"))
  }

  /** A fresh temp directory under [[stagingRoot]], deleted at JVM exit.
    * `needBytes` is the caller's size estimate (staged file size, expected
    * checkpoint volume); the root is only used when it has 2x that
    * headroom, so a large SF can never fill it — it degrades to
    * java.io.tmpdir instead.
    */
  private[streaming] def stagingDir(spark: SparkSession, prefix: String,
                                    needBytes: Long = 64L << 20): String = {
    val root = Paths.get(stagingRoot(sys.env, spark.sparkContext.getConf))
    val usable = scala.util.Try {
      Files.createDirectories(root)
      Files.getFileStore(root).getUsableSpace
    }.getOrElse(0L)
    val d =
      if (Files.isWritable(root) && usable >= needBytes * 2)
        Files.createTempDirectory(root, prefix)
      else Files.createTempDirectory(prefix)
    stagingDirs.add(d)
    d.toString
  }
}
