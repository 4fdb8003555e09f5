package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Runs the full stream registry under the RocksDB state store — the
  * backend SCALE.md names for 100 TB state (HDFS-backed stores hold every
  * key in executor heap; RocksDB spills keyed state to local SSD, which is
  * what makes billion-key dedup/session state feasible per executor).
  *
  * Two claims pinned here:
  *  1. results are BACKEND-INVARIANT: every stream registry row collects
  *     the same rows under RocksDB as under the default provider (whose
  *     results are oracle-green at every gated scale) — the state backend
  *     is layout, never semantics;
  *  2. RocksDB is actually ENGAGED, not silently fallen back from: the
  *     stateful operator's progress metrics must report rocksdb custom
  *     metrics with real activity.
  */
class RocksDbStateStoreSpec extends SparkSpec {

  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  private def withRocksDb[T](f: => T): T = {
    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, RocksDb)
    try f finally prev match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None => spark.conf.unset(ProviderKey)
    }
  }

  private val sfDir = "/root/testdata/sf0.001"

  test("every stream registry row is backend-invariant under RocksDB") {
    val streamQs = graft.SparkEntry.queries.keys.filter(_.startsWith("stream_")).toSeq.sorted
    assert(streamQs.size == 9)
    streamQs.foreach { name =>
      val default = graft.SparkEntry.queries(name)(spark, sfDir)
        .collect().map(_.toString).sorted.toSeq
      val rocks = withRocksDb {
        graft.SparkEntry.queries(name)(spark, sfDir)
          .collect().map(_.toString).sorted.toSeq
      }
      assert(rocks == default,
        s"$name differs under RocksDB: ${rocks.size} vs ${default.size} rows")
    }
  }

  test("RocksDB provider is engaged and reports store metrics") {
    withRocksDb {
      import spark.implicits._
      val name = s"rocks_probe_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val dir = java.nio.file.Files.createTempDirectory("rocks_probe_src")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/events.parquet"),
        dir.resolve("events.parquet"))
      val streamed = Tables.normalizeTs(spark.readStream
        .schema(spark.read.parquet(dir.toString).schema)
        .parquet(dir.toString))
        .na.drop(Seq("event_id", "ts", "user_id", "value"))
        .as[EventsStream.Event]
      val q = EventsStream.latestPerUser(streamed)
        .writeStream.outputMode("update").format("memory").queryName(name)
        .option("checkpointLocation", StreamRun.stagingDir(spark, name))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val ops = q.recentProgress.flatMap(_.stateOperators)
      assert(ops.nonEmpty, "no stateful operator progress recorded")
      val custom = ops.flatMap(o =>
        scala.jdk.CollectionConverters.MapHasAsScala(o.customMetrics).asScala)
      val rocksKeys = custom.collect { case (k, _) if k.toLowerCase.contains("rocksdb") => k }
      assert(rocksKeys.nonEmpty,
        s"no rocksdb custom metrics — provider fell back? metrics=${custom.map(_._1).distinct.mkString(",")}")
      val committed = ops.map(_.numRowsUpdated).sum
      assert(committed > 0, "stateful operator updated no rows")
    }
  }
}
