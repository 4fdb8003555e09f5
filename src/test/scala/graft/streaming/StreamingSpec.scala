package graft.streaming

import java.nio.file.Files
import graft.{SparkSpec, Tables}
import graft.wrm.WrmFixture
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Streaming file sources need a directory — stage the single parquet
    * file into one.
    */
  private lazy val eventsDir: String = {
    val dir = Files.createTempDirectory("events_stream")
    Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("streaming hourly agg matches the batch q18 result (T6)") {
    val batchEvents = Tables.events(spark, "/root/testdata/sf0.001")
    // stream the same parquet through a file source (schema from batch read)
    val streamed = Tables.normalizeTs(spark.readStream
      .schema(spark.read.parquet(eventsDir).schema)
      .parquet(eventsDir))
    val q = EventsStream.hourlyAgg(streamed)
      .writeStream.outputMode("append").format("memory").queryName("hourly")
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("hourly")
    val expected = EventsStream.hourlyAgg(batchEvents.withWatermark("ts", "1 hour"))
    // append mode withholds windows newer than the watermark — every emitted
    // window must match batch, and all but the tail must be emitted
    val gotMap = got.collect().map(r => r.getTimestamp(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val expMap = expected.collect().map(r => r.getTimestamp(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(gotMap.nonEmpty)
    gotMap.foreach { case (k, v) => assert(expMap(k) == v, s"window $k") }
    // a 1-hour watermark keeps up to 2 tail windows open (unemitted)
    assert(gotMap.size >= expMap.size - 2)
  }

  test("stateful latest-per-user matches the batch q06 winners (T7)") {
    val ds = Tables.events(spark, "/root/testdata/sf0.001").as[EventsStream.Event]
    val streamed = Tables.normalizeTs(spark.readStream
      .schema(spark.read.parquet(eventsDir).schema)
      .parquet(eventsDir))
      .as[EventsStream.Event]
    val q = EventsStream.latestPerUser(streamed)
      .writeStream.outputMode("update").format("memory").queryName("latest")
      .start()
    q.processAllAvailable(); q.stop()
    // last update per user in the memory sink = final state
    val got = spark.table("latest")
      .groupBy("user_id")
      .agg(max_by(struct(col("event_id"), col("ts")), struct(col("ts"), col("event_id"))).as("w"))
      .select(col("user_id"), col("w.event_id").as("event_id"))
      .as[(Long, Long)].collect().toMap
    val expected = graft.relational.RelationalQueries.q06
      .run(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_id")).as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("stream-stream interval join matches its batch equivalent") {
    val batchEvents = Tables.events(spark, "/root/testdata/sf0.001")
    val streamed = Tables.normalizeTs(spark.readStream
      .schema(spark.read.parquet(eventsDir).schema)
      .parquet(eventsDir))
    val q = EventsStream.purchaseViewJoin(streamed)
      .writeStream.outputMode("append").format("memory").queryName("ssjoin")
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ssjoin")
      .select("purchase_id", "view_id").as[(Long, Long)].collect().toSet
    val expected = EventsStream.purchaseViewJoin(batchEvents)
      .select("purchase_id", "view_id").as[(Long, Long)].collect().toSet
    assert(expected.nonEmpty)
    // append-mode emission may withhold pairs near the final watermark;
    // everything emitted must be correct and coverage must be near-total
    assert(got.subsetOf(expected))
    assert(got.size >= expected.size * 9 / 10)
  }

  test("streaming corpus dedup keeps min doc_id per content across batches") {
    // duplicates split across TWO files so the winner must come from
    // cross-micro-batch state, not within-batch grouping
    val dir = Files.createTempDirectory("docs_dedup")
    Seq((10L, "alpha beta"), (11L, "gamma")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(dir.resolve("a").toString)
    Seq((3L, "alpha beta"), (12L, "delta"), (13L, "gamma")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(dir.resolve("b").toString)
    val streamed = spark.readStream
      .schema(spark.read.parquet(s"$dir/a").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/*")
      .select(md5(col("text")).as("h"), col("doc_id")).as[(String, Long)]
    val q = DocsStream.dedupFirstSeen(streamed)
      .toDF("content_hash", "keep_doc_id")
      .writeStream.outputMode("update").format("memory").queryName("docdedup")
      .start()
    q.processAllAvailable(); q.stop()
    val winners = spark.table("docdedup")
      .groupBy("content_hash").agg(min("keep_doc_id").as("keep"))
      .select("keep").as[Long].collect().toSet
    // "alpha beta" collapses to doc 3, "gamma" to doc 11; singletons kept
    assert(winners == Set(3L, 11L, 12L))
  }

  test("streaming source cards accumulate state across micro-batches") {
    // the same source appears in both files: its card must merge counts
    // from two micro-batches, not reset per batch
    val dir = Files.createTempDirectory("docs_cards")
    Seq(("web", 100L), ("web", 500L), ("books", 900L))
      .toDF("source", "n_chars")
      .coalesce(1).write.parquet(dir.resolve("a").toString)
    Seq(("web", 150L), ("books", 50L))
      .toDF("source", "n_chars")
      .coalesce(1).write.parquet(dir.resolve("b").toString)
    val streamed = spark.readStream
      .schema(spark.read.parquet(s"$dir/a").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/*")
      .as[(String, Long)]
    val q = DocsStream.sourceCards(streamed, shortLen = 200L)
      .toDF("source", "n_docs", "n_chars", "n_short")
      .writeStream.outputMode("update").format("memory").queryName("cards")
      .start()
    q.processAllAvailable(); q.stop()
    val finalCards = spark.table("cards")
      .groupBy("source")
      .agg(max("n_docs").as("n"), max("n_chars").as("c"), max("n_short").as("s"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(finalCards("web") == ((3L, 750L, 2L)))
    assert(finalCards("books") == ((2L, 950L, 1L)))
  }

  test("streaming quality gate matches the batch cascade stages 1-4 across batches") {
    val good = "the quick brown fox jumps over the lazy dog and cat " * 4
    val docCols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val batchA = Seq((1L, good, "en", "web", 0L), (2L, "", "en", "web", 0L))
    val batchB = Seq((3L, "tiny", "en", "web", 0L), (4L, good, "en", "books", 0L))
    val dir = Files.createTempDirectory("docs_gate")
    batchA.toDF(docCols: _*).coalesce(1).write.parquet(dir.resolve("a").toString)
    batchB.toDF(docCols: _*).coalesce(1).write.parquet(dir.resolve("b").toString)
    val streamed = spark.readStream
      .schema(spark.read.parquet(s"$dir/a").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/*")
    val flagged = graft.text.FilterCascade.stageFlags(streamed)
      .select(col("source"), col("n_tok"),
        col("p1"), col("p2"), col("p3"), col("p4"))
      .as[(String, Long, Boolean, Boolean, Boolean, Boolean)]
    val q = DocsStream.qualityGate(flagged)
      .toDF("source", "n_total", "s1", "s2", "s3", "s4", "tok_s4")
      .writeStream.outputMode("update").format("memory").queryName("gate")
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("gate").groupBy("source")
      .agg(max("n_total").as("n"), max("s1").as("s1"), max("s2").as("s2"),
        max("s3").as("s3"), max("s4").as("s4"), max("tok_s4").as("t"))
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
    // batch reference: the SAME flags, batch-aggregated
    val batchRef = graft.text.FilterCascade
      .stageFlags((batchA ++ batchB).toDF(docCols: _*))
      .groupBy(col("source"))
      .agg(count(lit(1)), sum(when(col("p1"), 1L).otherwise(0L)),
        sum(when(col("p2"), 1L).otherwise(0L)),
        sum(when(col("p3"), 1L).otherwise(0L)),
        sum(when(col("p4"), 1L).otherwise(0L)),
        sum(when(col("p4"), col("n_tok")).otherwise(0L)))
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
    assert(got == batchRef)
    // web: 3 docs, only the good one reaches stage 4 (44 tokens)
    assert(got("web")._1 == 3L && got("web")._5 == 1L && got("web")._6 == 44L)
  }

  test("streaming session windows merge across micro-batches") {
    // one user's events split across two files: the later batch extends
    // the open session, so the final table must hold ONE merged session
    val dir = Files.createTempDirectory("sess_stream")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((1L, t("2024-01-01 10:00:00"), 7L, "click", 1.0),
      (2L, t("2024-01-01 10:10:00"), 7L, "click", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(dir.resolve("a").toString)
    Seq((3L, t("2024-01-01 10:20:00"), 7L, "click", 4.0),
      (4L, t("2024-01-01 12:00:00"), 7L, "click", 8.0)) // > 30 min gap: new session
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(dir.resolve("b").toString)
    val streamed = spark.readStream
      .schema(spark.read.parquet(s"$dir/a").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/*")
    val q = streamed
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
      .select(col("user_id"), col("session_window.start").as("s"),
        col("n"), col("v"))
      .writeStream.outputMode("complete").format("memory").queryName("sess")
      .start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("sess").orderBy("s")
      .as[(Long, java.sql.Timestamp, Long, Double)].collect().toSeq
    assert(out == Seq(
      (7L, t("2024-01-01 10:00:00"), 3L, 7.0), // merged across batches
      (7L, t("2024-01-01 12:00:00"), 1L, 8.0)))
  }

  test("append-mode session windows: eviction boundary is INCLUSIVE (end <= watermark)") {
    // Pins the predicate the stream_session_window_append oracle mirrors:
    // a session is emitted closed once the watermark REACHES its end
    // (inclusive). Constructed tie: user 7's session ends exactly AT the
    // final watermark (max ts 11:00 - 30 min delay = 10:30 = session
    // end) and IS emitted; user 9's clearly-older session emits; user 8
    // (the watermark carrier) ends above the watermark and stays open.
    // (First draft assumed strict < — this test is what corrected it.)
    val dir = Files.createTempDirectory("sess_append")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((1L, t("2024-01-01 10:00:00"), 7L, "click", 1.0),
      (2L, t("2024-01-01 11:00:00"), 8L, "click", 2.0),
      (3L, t("2024-01-01 09:00:00"), 9L, "click", 4.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(dir.resolve("a").toString)
    val streamed = spark.readStream
      .schema(spark.read.parquet(s"$dir/a").schema)
      .parquet(s"$dir/*")
    val q = streamed
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.end").as("e"), col("n"))
      .writeStream.outputMode("append").format("memory").queryName("sessapp")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("sessapp")
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    assert(out == Set(
      (9L, t("2024-01-01 09:30:00"), 1L),
      (7L, t("2024-01-01 10:30:00"), 1L)),
      s"expected users 9 and 7 closed (inclusive <=), user 8 open; got: $out")
  }

  test("streaming token counts accumulate across micro-batches") {
    // the same token arrives in two separate files -> its final count must
    // come from cross-batch state, not within-batch grouping
    val dir = Files.createTempDirectory("docs_topk")
    Seq((1L, "hot cold"), (2L, "hot")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(dir.resolve("a").toString)
    Seq((3L, "hot warm warm")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(dir.resolve("b").toString)
    val streamed = spark.readStream
      .schema(spark.read.parquet(s"$dir/a").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/*")
      .select(explode(graft.text.TextAnalysis.tokens(col("text"))).as("tok"))
      .as[String]
    val q = DocsStream.tokenCounts(streamed)
      .toDF("token", "cnt")
      .writeStream.outputMode("update").format("memory").queryName("topk")
      .start()
    q.processAllAvailable(); q.stop()
    val finals = spark.table("topk")
      .groupBy("token").agg(max("cnt").as("cnt"))
      .as[(String, Long)].collect().toMap
    assert(finals == Map("hot" -> 3L, "cold" -> 1L, "warm" -> 2L))
  }

  test("TTL dedup: expired content hash re-admits the document") {
    // batch 1 admits textA; after the TTL elapses, batch 2 (a different
    // key, so the timeout sweep runs) evicts it; batch 3 re-admits textA
    // under a HIGHER doc_id — impossible under NoTimeout min-wins, so the
    // final update proves the eviction happened. Polling, not
    // processAllAvailable: with processing-time timeouts the engine runs
    // sweep batches continuously, so "all available processed" never
    // settles (processAllAvailable hangs by design).
    val dir = Files.createTempDirectory("docs_ttl")
    def writeBatch(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.parquet(dir.resolve(name).toString)
    writeBatch("a", Seq((1L, "textA")))
    val streamed = spark.readStream
      .schema(spark.read.parquet(s"$dir/a").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/*")
      .select(md5(col("text")).as("h"), col("doc_id")).as[(String, Long)]
    val q = DocsStream.dedupFirstSeenTtl(streamed, ttlMs = 1000L)
      .toDF("content_hash", "keep_doc_id")
      .writeStream.outputMode("update").format("memory").queryName("ttldedup")
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    def updates(): Seq[(String, Long)] =
      spark.table("ttldedup").select("content_hash", "keep_doc_id")
        .as[(String, Long)].collect().toSeq
    def await(desc: String)(pred: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (!pred) {
        assert(System.currentTimeMillis() <= deadline, s"timed out: $desc")
        Thread.sleep(100)
      }
    }
    val hA = spark.sql("SELECT md5('textA')").collect()(0).getString(0)
    await("admission")(updates().exists(u => u._1 == hA && u._2 == 1L))
    Thread.sleep(2500) // let textA's state pass its TTL
    writeBatch("b", Seq((2L, "textB"))) // sweep batch: times textA out
    await("sweep batch")(updates().exists(_._2 == 2L))
    writeBatch("c", Seq((9L, "textA"))) // re-arrival after eviction
    await("re-admission")(updates().exists(u => u._1 == hA && u._2 == 9L))
    q.stop()
    // admitted as doc 1, then RE-admitted as doc 9 (NoTimeout would have
    // kept emitting 1); textB unaffected
    assert(updates().filter(_._1 == hA).map(_._2) == Seq(1L, 9L))
    assert(updates().count(_._2 == 2L) == 1)
  }

  test("WRM streaming ingest: files flow to dt= partitions; late files append (T1-T4)") {
    val root = Files.createTempDirectory("wrmstream")
    val rawRoot = root.resolve("raw")
    val enhancedRoot = root.resolve("enhanced").toString
    val checkpoint = root.resolve("ckpt").toString
    WrmFixture.writeRawFiles(rawRoot, Seq("2025-05-01"), ticksPerDate = 2)

    val cfg = WrmStreamPipeline.Config(
      rawRoot.toString, enhancedRoot, checkpoint,
      trigger = Trigger.AvailableNow())
    val q1 = WrmStreamPipeline.start(spark, cfg)
    q1.awaitTermination()
    val afterFirst = spark.read.parquet(enhancedRoot)
    assert(afterFirst.count() == 2 * 12)
    assert(afterFirst.select("dt").distinct().as[String].collect().toSeq == Seq("2025-05-01"))

    // late file lands for the same (old) date + a new date appears
    WrmFixture.writeRawFiles(rawRoot, Seq("2025-05-01", "2025-05-02"), ticksPerDate = 3)
    val q2 = WrmStreamPipeline.start(spark, cfg)
    q2.awaitTermination()
    val afterLate = spark.read.parquet(enhancedRoot)
    // 3 files per date now exist; first two of 05-01 were already processed
    assert(afterLate.filter(col("dt") === "2025-05-01").count() == 3 * 12)
    assert(afterLate.filter(col("dt") === "2025-05-02").count() == 3 * 12)
    // offset tracking (T2): records are not duplicated on re-run
    val q3 = WrmStreamPipeline.start(spark, cfg)
    q3.awaitTermination()
    assert(spark.read.parquet(enhancedRoot).count() == 6 * 12)
  }

  test("failed batch commits no offsets; restart reprocesses the files (T8)") {
    val root = Files.createTempDirectory("wrmstream_t8")
    val rawRoot = root.resolve("raw")
    val enhancedRoot = root.resolve("enhanced")
    val checkpoint = root.resolve("ckpt").toString
    WrmFixture.writeRawFiles(rawRoot, Seq("2025-05-01"), ticksPerDate = 2)
    // Sabotage the sink: a plain FILE where the parquet output directory
    // must go — the first batch's write throws inside foreachBatch, which
    // rethrows (T8 contract) and fails the query.
    Files.writeString(enhancedRoot, "not a directory")
    val cfg = WrmStreamPipeline.Config(rawRoot.toString, enhancedRoot.toString,
      checkpoint, trigger = Trigger.AvailableNow())
    val q1 = WrmStreamPipeline.start(spark, cfg)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(ex.getMessage != null)
    // the failed batch must NOT be committed (offsets may be staged in the
    // WAL, but commits/ records only successful batches)
    val commits = Option(new java.io.File(s"$checkpoint/commits")
      .list(new java.io.FilenameFilter {
        def accept(d: java.io.File, n: String): Boolean = !n.startsWith(".")
      })).map(_.toSeq).getOrElse(Nil)
    assert(commits.isEmpty, s"failed batch was committed: ${commits.mkString(",")}")
    // heal the sink and restart: the SAME files are re-delivered from the
    // uncommitted offsets and fully processed — nothing was dropped
    Files.delete(enhancedRoot)
    val q2 = WrmStreamPipeline.start(spark, cfg)
    q2.awaitTermination()
    assert(spark.read.parquet(enhancedRoot.toString).count() == 2 * 12)
  }

  test("stream staging and checkpoints go under Spark's configured local dir, not /dev/shm") {
    val conf = new org.apache.spark.SparkConf(false)
    assert(EventsStream.stagingRoot(Map("SPARK_LOCAL_DIRS" -> " /a/x , /b"),
      conf.clone.set("spark.local.dir", "/c")) == "/a/x")
    assert(EventsStream.stagingRoot(Map.empty, conf.clone.set("spark.local.dir", "/c,/d")) == "/c")
    assert(EventsStream.stagingRoot(Map.empty, conf) == System.getProperty("java.io.tmpdir"))
    val root = java.nio.file.Paths.get(
      EventsStream.stagingRoot(sys.env, spark.sparkContext.getConf)).toAbsolutePath.normalize
    val dir = java.nio.file.Paths.get(
      EventsStream.stagingDir(spark, "staging_spec")).toAbsolutePath.normalize
    assert(Files.isDirectory(dir))
    assert(dir.startsWith(root), s"$dir is not under the local dir $root")
    assert(!dir.startsWith("/dev/shm"), s"$dir is under /dev/shm")
  }
}
