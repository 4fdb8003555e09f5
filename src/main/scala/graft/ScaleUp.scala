package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes an sf×R corpus from an existing testdata dir by unioning R
  * key-offset replicas — the scale-proof harness behind `BENCH_sf1.json`
  * (one decade above the driver's bench scale, to catch superlinear creep
  * that sf0.1 cannot).
  *
  * Replication is NOT naive copying; each table keeps realistic scaling
  * semantics:
  *  - every key column gets a per-replica stride offset (orderkeys,
  *    custkeys, partkeys, suppkeys, users, docs, vectors stay unique, so
  *    joins/groups scale in KEY COUNT, not in duplicate-key skew);
  *  - timestamps are left alone: the same calendar window gets R× the
  *    rows — the realistic growth path (density, not span);
  *  - `documents.text` has a replica marker token injected every 5 words:
  *    shingle windows all see it, so cross-replica Jaccard collapses to
  *    ~0 while INTRA-replica near-dup structure is preserved verbatim —
  *    the corpus dup-rate stays constant with scale instead of every doc
  *    acquiring R−1 artificial twins (which would grow pair outputs
  *    quadratically in R and bench the data construction, not the
  *    engine);
  *  - `embeddings.embedding` is multiplied by a per-replica deterministic
  *    ±1 sign pattern (hash of (replica, dim)): cos(Sx, Sy) = cos(x, y)
  *    for any diagonal sign matrix S, so all intra-replica geometry —
  *    every pairwise cosine, every norm — is preserved EXACTLY, while
  *    cross-replica cosines decorrelate; ANN/dedup workloads scale in
  *    corpus size with their sf0.1 cluster structure intact.
  *
  * Usage: ScaleUp <srcDir> <outDir> [replicas=10]
  */
object ScaleUp {

  private val KeyStride = Map(
    "c_custkey" -> 10000000L, "s_suppkey" -> 10000000L,
    "p_partkey" -> 10000000L, "o_orderkey" -> 1000000000L,
    "o_custkey" -> 10000000L, "l_orderkey" -> 1000000000L,
    "l_partkey" -> 10000000L, "l_suppkey" -> 10000000L,
    "event_id" -> 1000000000L, "user_id" -> 100000000L,
    "doc_id" -> 1000000000L, "vec_id" -> 100000000L)

  /** One replica of `df` with key columns offset by i×stride. */
  private def replica(df: DataFrame, i: Int): DataFrame =
    KeyStride.foldLeft(df) { case (d, (k, stride)) =>
      if (d.columns.contains(k)) d.withColumn(k, col(k) + lit(i * stride))
      else d
    }

  /** Replica offsets are collision-free only when every source key fits
    * inside ONE stride: offset i·stride + key < offset (i+1)·stride ⇔
    * max(key) − min(key) < stride. COMPOSING ScaleUp (x10 of an x10
    * output) violates this — replica (i, j) lands at offset (i+j)·stride,
    * so a two-stage x100 collapses 100 replicas onto 19 distinct key
    * offsets and every "unique" key appears up to 10× (the round-15
    * post-mortem: duplicate (event_id, ts) twins at sf10 made the q45
    * session oracle's window tie-order nondeterministic, 20 drifting rows
    * out of 1.8M). Scale in ONE pass (replicas=100) instead; this guard
    * fails loud on the composed input rather than silently minting
    * duplicate keys.
    */
  private def assertStrideFits(name: String, df: DataFrame): Unit =
    KeyStride.foreach { case (k, stride) =>
      if (df.columns.contains(k)) {
        val r = df.agg(min(col(k).cast("long")), max(col(k).cast("long"))).collect()(0)
        if (!r.isNullAt(0) && r.getLong(1) - r.getLong(0) >= stride)
          sys.error(
            s"[scaleup] $name.$k spans ${r.getLong(0)}..${r.getLong(1)} ≥ stride $stride. " +
              "Either (a) the input is a prior ScaleUp output — composed runs collide replica " +
              "key offsets (i+j sums); re-run as ONE pass with replicas = the full factor — or " +
              "(b) this is a genuinely larger natural source whose key span exceeds the stride; " +
              s"then raise KeyStride.$k past the observed span (next power of 10 above " +
              s"${r.getLong(1) - r.getLong(0)}) and re-run.")
      }
    }

  private def replicate(df: DataFrame, r: Int)(tweak: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until r).map(i => tweak(replica(df, i), i)).reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val r = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.builder(shufflePartitions = GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name x$r written")
    }

    // dimension tables with fixed key spaces are copied as-is
    Seq("region", "nation").foreach { t =>
      write(t, spark.read.parquet(s"$src/$t.parquet"))
    }
    // Name columns get a per-replica suffix on the final token: the fuzzy
    // join / entity-resolution family blocks on (last name token, brand),
    // so identical replica names would stack every block 10× deep and
    // grow candidate pairs (and the TRUE output) quadratically in R — a
    // skew stress, not 10× growth. Suffixed names model a catalog that
    // GROWS: replicas are block-disjoint, intra-replica block structure
    // and pairwise distances are preserved (a shared suffix shifts every
    // in-block name equally), and pair outputs scale linearly.
    val nameCols = Set("p_name", "c_name", "s_name")
    def suffixNames(d: DataFrame, i: Int): DataFrame =
      if (i == 0) d
      else nameCols.intersect(d.columns.toSet).foldLeft(d) { (dd, c) =>
        dd.withColumn(c, concat(col(c), lit(s"~$i")))
      }
    Seq("customer", "supplier", "part", "orders", "lineitem", "events")
      .foreach { t =>
        val srcDf = spark.read.parquet(s"$src/$t.parquet")
        assertStrideFits(t, srcDf)
        write(t, replicate(srcDf, r)(suffixNames))
      }
    val srcDocs = spark.read.parquet(s"$src/documents.parquet")
    assertStrideFits("documents", srcDocs)
    write("documents",
      replicate(srcDocs, r) { (d, i) =>
        if (i == 0) d
        else d.withColumn("text",
          regexp_replace(col("text"), "((?:\\S+\\s+){5})", "$1§r" + i + " "))
      })
    val srcEmb = spark.read.parquet(s"$src/embeddings.parquet")
    assertStrideFits("embeddings", srcEmb)
    write("embeddings",
      replicate(srcEmb, r) { (d, i) =>
        if (i == 0) d
        else d.withColumn("embedding",
          transform(col("embedding"), (x, j) =>
            (x * (lit(1) - lit(2) * pmod(xxhash64(lit(i), j, lit("scaleup-sign")), lit(2))
              .cast("int"))).cast("float")))
      })
    spark.stop()
  }
}
