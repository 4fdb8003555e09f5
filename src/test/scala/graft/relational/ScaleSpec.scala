package graft.relational

import graft.{SparkSpec, Tables}
import graft.vector.Similarity
import org.apache.spark.sql.functions._

/** Scale-technique specs: salted aggregation equivalence and bucketed
  * co-located joins (shuffle elimination).
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted aggregation equals plain aggregation on a skewed key set") {
    // simulate skew: one key owns 90% of rows
    val skewed = spark.range(0, 50000)
      .select(when(col("id") % 10 =!= 0, lit(777L)).otherwise(col("id")).as("k"),
        (col("id") % 100).cast("double").as("v"))
    val salted = SkewTools.saltedSumCount(skewed, col("k"), col("v"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val plain = skewed.groupBy(col("k").as("k"))
      .agg(sum(col("v")).as("total"), count(lit(1)).as("n"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(salted.toSeq == plain.toSeq) // integer-valued doubles: exact
  }

  test("bucketed tables join without an exchange (co-located join)") {
    // warehouse.dir is static conf — write external bucketed tables to /tmp
    val wh = java.nio.file.Files.createTempDirectory("graft_wh")
    Tables.orders(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/orders_bucketed").saveAsTable("orders_bucketed")
    Tables.lineitem(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/lineitem_bucketed").saveAsTable("lineitem_bucketed")
    // disable broadcast so the join would otherwise shuffle both sides
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("lineitem_bucketed")
        .join(spark.table("orders_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      val physical = joined.queryExecution.executedPlan.toString
      assert(physical.contains("SortMergeJoin"))
      // the join itself must not introduce exchanges — bucket layout feeds
      // both sides directly (only the final groupBy may exchange)
      val joinPart = physical.split("SortMergeJoin")(1)
      assert(!joinPart.contains("Exchange hashpartitioning(l_orderkey"),
        s"unexpected shuffle on join keys:\n$physical")
      assert(!joinPart.contains("Exchange hashpartitioning(o_orderkey"),
        s"unexpected shuffle on join keys:\n$physical")
      // and it still computes the right answer
      val n = joined.agg(sum(col("n"))).collect()(0).getLong(0)
      assert(n == Tables.lineitem(spark, "/root/testdata/sf0.001").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_bucketed")
      spark.sql("DROP TABLE IF EXISTS lineitem_bucketed")
    }
  }

  test("dt=-partitioned writes give partition pruning on read") {
    val root = java.nio.file.Files.createTempDirectory("prune").toString
    val enhanced = graft.wrm.WrmQueries.enhancedAll(spark)
    graft.wrm.Sinks.overwriteDate(enhanced, root)
    val filtered = spark.read.option("basePath", root).parquet(root)
      .filter(col("dt") === "2025-05-01")
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(dt"),
      s"expected partition filter in:\n$scan")
    assert(filtered.count() == 36) // only the one date read
  }

  test("as-of join survives AQE partition coalescing (zipPartitions co-partitioning)") {
    // tiny data + 32 shuffle partitions → AQE coalesces aggressively; the
    // custom exec's two shuffled children must stay co-partitioned.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      val l = Seq((1L, 10L, "a"), (2L, 10L, "b"), (3L, 10L, "c")).toDF("k", "t", "tag")
      val r = Seq((1L, 5L, "x"), (3L, 20L, "y")).toDF("rk", "rt", "rtag")
      val out = graft.plans.AsOf.join(l, r, Seq("k"), Seq("rk"), "t", "rt")
        .select("k", "rtag").orderBy("k")
        .collect().map(x => (x.getLong(0), x.getString(1)))
      assert(out.toSeq == Seq((1L, "x"), (2L, null), (3L, null)))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("hot-bucket cap bounds the pair-emitting dedup APIs on a mega-cluster") {
    // 1000 identical docs would emit ~500k pairs through the band
    // self-join; with a cap the hot buckets are dropped (logged) while
    // ordinary near-dup pairs elsewhere are still found.
    val mega = spark.range(0, 1000)
      .select((col("id") + 5000000).as("doc_id"),
        lit("the same boilerplate text repeated everywhere forever and ever").as("text"))
    val pairDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
      .toDF("doc_id", "text")
    val corpus = pairDocs.unionByName(mega)
    val pairs = graft.text.TextDedup
      .minhashDupPairs(corpus, threshold = 0.3, maxBucketSize = 50)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"ordinary near-dup pair lost: $pairs")
    assert(!pairs.exists { case (a, b) => a >= 5000000 || b >= 5000000 },
      "mega-cluster pairs should have been capped away")
    // the canonical API (one row per doc) still collapses the mega-cluster
    val canon = graft.text.TextDedup.minhashCanonical(corpus, threshold = 0.3)
    val megaCanon = canon.filter(col("doc_id") >= 5000000)
      .select("canonical_id").distinct().collect()
    assert(megaCanon.length == 1 && megaCanon(0).getLong(0) == 5000000L)
  }

  test("embedding pair dedup caps hot buckets, keeps planted small pairs") {
    val base = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    // 500 copies of vector 7 → one hot LSH bucket
    val hot = base.filter(col("vec_id") === 7)
      .crossJoin(spark.range(0, 500).select((col("id") + 8000000).as("hot_id")))
      .select(col("hot_id").as("vec_id"), col("embedding"))
    // one planted twin of vector 3
    val twin = base.filter(col("vec_id") === 3)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
    val pairs = Similarity.embeddingDupPairs(
      base.unionByName(hot).unionByName(twin), 0.999, maxBucketSize = 50)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((3L, 1003L)), s"planted twin lost: $pairs")
    assert(!pairs.exists { case (a, b) => a >= 8000000 || b >= 8000000 },
      "hot-bucket pairs should have been capped away")
  }

  test("observe() exposes pipeline metrics without a second pass") {
    val observed = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .observe("counts",
        count(lit(1)).as("rows"),
        sum(when(col("l_quantity") < 0, 1).otherwise(0)).as("bad_qty"))
    // the action must run the dataset's OWN QueryExecution (a write/count
    // builds a new one whose metrics land in a listener instead)
    observed.collect()
    val m = observed.queryExecution.observedMetrics("counts")
    assert(m.getAs[Long]("rows") == 6000L)
    assert(m.getAs[Long]("bad_qty") == 0L)
  }

  test("density zoom/center math") {
    val (clat, clon, zoom) = graft.wrm.Density.zoomCenter(51.0, 51.2, 17.0, 17.1)
    assert(clat == 51.1 && math.abs(clon - 17.05) < 1e-9)
    assert(zoom > 9 && zoom < 12) // ~0.2° span → ~10.8
    val (_, _, z0) = graft.wrm.Density.zoomCenter(51.0, 51.0, 17.0, 17.0)
    assert(z0 == 15.0) // degenerate bbox → max zoom
  }
}
