package graft.text

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hash-shard layout audit: assign every document to one of N output
  * shards by key hash and report each shard's row/byte load against the
  * uniform ideal — the pre-write check that a sharded corpus export
  * (or a bucketed table layout) won't produce hot files.
  *
  * Scale shape: the shard id is a narrow map (one md5 fold per row);
  * the report is an O(shards) aggregate with map-side partials, and the
  * global mean joins back as a 1-row broadcast. Nothing but the digest
  * is ever shuffled.
  */
object Sharding {

  /** Per-shard load: (shard, n_docs, bytes, load_ratio) over nShards
    * hash shards of doc_id; load_ratio is bytes / ideal-uniform-bytes.
    * Empty shards surface as zero rows (load_ratio 0) via the shard
    * spine, so a pathological hash can't hide.
    */
  def shardBalance(docs: DataFrame, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val spark = docs.sparkSession
    import spark.implicits._
    val shard = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long"), lit(nShards.toLong))
    val perShard = docs
      .select(shard.as("shard"), length(col("text")).cast("long").as("bytes"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("bytes")).as("bytes"))
    val spine = (0L until nShards.toLong).toDF("shard")
    val total = perShard.agg(sum(col("bytes")).as("total_bytes"))
    spine.join(perShard, Seq("shard"), "left")
      .crossJoin(broadcast(total)) // global 1-row scalar
      .select(col("shard"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("bytes"), lit(0L)).as("bytes"),
        GraftQuery.duckRound(coalesce(col("bytes"), lit(0L)).cast("double") /
          (col("total_bytes").cast("double") / nShards), 6).as("load_ratio"))
      .orderBy(col("shard"))
  }

  // ---- queries -------------------------------------------------------------

  val qShardBalance = GraftQuery(
    "q170_shard_balance",
    (s, dir) => shardBalance(Tables.documents(s, dir), nShards = 64), {
      val base = Md5P61.duckBase("CAST(doc_id AS VARCHAR)")
      Some(s"""
      WITH assigned AS (
        SELECT $base % 64 AS shard, CAST(length(text) AS BIGINT) AS bytes
        FROM documents),
      per_shard AS (
        SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(bytes) AS BIGINT) AS bytes
        FROM assigned GROUP BY shard),
      total AS (SELECT CAST(sum(bytes) AS BIGINT) AS total_bytes
                FROM per_shard)
      SELECT s.range AS shard,
             coalesce(p.n_docs, 0) AS n_docs,
             coalesce(p.bytes, 0) AS bytes,
             round(CAST(coalesce(p.bytes, 0) AS DOUBLE)
                   / (CAST(t.total_bytes AS DOUBLE) / 64), 6) AS load_ratio
      FROM range(0, 64) s CROSS JOIN total t
      LEFT JOIN per_shard p ON s.range = p.shard
      ORDER BY shard""")
    })

  val queries: Seq[GraftQuery] = Seq(qShardBalance)
}
