package graft.vector

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding similarity search: brute-force cosine top-k (baseline) and an
  * LSH-bucketed approximate variant (the scale path), plus embedding-cosine
  * near-duplicate detection.
  *
  * Vector math: hot paths use the native kernel expressions in
  * VectorExprs (tight per-row loops); `dot`/`cosine` below are the
  * composable zip_with/aggregate reference forms, bit-equal to the native
  * CosineSim (pinned by SimilaritySpec). Elements are cast float→double
  * BEFORE any arithmetic so results match a sequential double-fold oracle.
  *
  * Scale design: brute-force is a broadcast of the (tiny) query vector —
  * a narrow map + top-k (TakeOrdered), no shuffle of the corpus. The LSH
  * variant buckets by deterministic random-hyperplane signs, turning ANN
  * into a hash-partition join: at 100 TB the corpus shuffles once by bucket
  * key and each probe touches 1/2^planes of the data.
  */
object Similarity {

  /** Element-wise dot product of two float-array columns in double
    * precision, sequential left-to-right accumulation.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a.cast("array<double>"), b.cast("array<double>"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val na = norm(a)
    val nb = norm(b)
    when(na === 0 || nb === 0, lit(0.0)).otherwise(d / (na * nb))
  }

  /** Brute-force cosine top-k of `corpus` against the single-row `query`
    * (must have column `qv`). TakeOrderedAndProject — no global sort.
    */
  def cosineTopK(corpus: DataFrame, query: DataFrame, k: Int): DataFrame =
    corpus.crossJoin(broadcast(query))
      .withColumn("cos_sim", VectorExprs.cosineSim(col("embedding"), col("qv")))
      .select(col("vec_id"), col("label"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)

  /** Batched brute-force top-k: one pass over the corpus scores EVERY
    * query vector (a broadcast batch, e.g. a probe set or dedup frontier)
    * — the realistic retrieval shape. Per-query top-k comes from
    * row_number over (query_id), which plans as WindowGroupLimit: each
    * map task keeps only k rows per query BEFORE the shuffle, so the
    * exchange carries ≤ partitions·queries·k rows regardless of corpus
    * size.
    */
  def cosineTopKBatch(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    corpus.crossJoin(broadcast(queries))
      .withColumn("cos_sim", VectorExprs.cosineSim(col("embedding"), col("qv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("vec_id"), col("cos_sim"))
  }

  /** ANN via LSH buckets with multi-probe AND multi-table
    * OR-amplification: exact cosine ranking within the query's bucket
    * PLUS every Hamming-distance-1 neighbor bucket (planes+1 probes), in
    * each of `tables` independent hyperplane families. Single-bucket
    * probing collapses in recall as planes grow (the nearest neighbors
    * differ from the query in one hyperplane sign with probability
    * ≈ θ/π per plane); the 1-flip probes recover one flipped sign, and
    * independent tables recover multi-flip misses with probability
    * 1 − (1 − p_hit)^tables. Cost stays a single corpus scan (all table
    * buckets computed in one projection) + a broadcast hash join —
    * no corpus shuffle; ~tables·(planes+1)/2^planes of the data scanned,
    * deduplicated before ranking.
    *
    * CONTRACT: `query` is a SINGLE row with column `qv` (and `corpus`
    * carries vec_id/label/embedding) — the vec_id dedup before ranking
    * assumes one query, and top-k ranking is global. For a batch of
    * query vectors use [[cosineTopKBatch]], which ranks per query.
    */
  def annLsh(corpus: DataFrame, query: DataFrame, k: Int, planes: Int = 6,
             tables: Int = 3, hashMode: String = "xx"): DataFrame = {
    // enforce the single-query contract at runtime: with >1 query row the
    // vec_id dedup below silently merges result sets across queries —
    // wrong answers, not an error. Collect the (tiny, about-to-be-
    // broadcast) query side ONCE and rebuild it as a local-relation
    // DataFrame, so the row the guard checked IS the row the join probes
    // even when the source is nondeterministic (sample/rand-derived).
    val qRows = query.limit(2).collect()
    require(qRows.length <= 1,
      "annLsh expects at most ONE query row, got >=2; " +
        "use cosineTopKBatch for query batches (per-query ranking)")
    // NO query row (empty corpus, or the query id filtered away) is a
    // well-defined ask with a well-defined answer — the empty top-k — not
    // a contract violation: at scale, scheduled searches routinely hit
    // shards/filters that prune to nothing
    if (qRows.isEmpty)
      return corpus.select(col("vec_id"), col("label"),
        lit(null).cast("double").as("cos_sim")).limit(0)
    val query1 = query.sparkSession.createDataFrame(
      java.util.Arrays.asList(qRows: _*), query.schema)
    val bucketed = corpus.select(col("vec_id"), col("label"), col("embedding"),
      explode(array((0 until tables).map { t =>
        struct(lit(t).as("tbl"),
          VectorExprs.lshBucket(col("embedding"), planes, t * planes, hashMode)
            .as("bucket"))
      }: _*)).as("tb"))
      .select(col("vec_id"), col("label"), col("embedding"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val qb = query1.select(col("qv"),
      explode(array((0 until tables).map { t =>
        struct(lit(t).as("ptbl"),
          VectorExprs.lshBucket(col("qv"), planes, t * planes, hashMode)
            .as("qbucket"))
      }: _*)).as("tb"))
      .select(col("qv"), col("tb.ptbl").as("ptbl"), col("tb.qbucket").as("qbucket"))
    val probes = qb.select(col("qv"), col("ptbl"),
      explode(array((col("qbucket") +:
        (0 until planes).map(p => col("qbucket").bitwiseXOR(lit(1L << p)))): _*))
        .as("probe"))
    bucketed.join(broadcast(probes),
        col("tbl") === col("ptbl") && col("bucket") === col("probe"))
      // a vector found in several tables/probes ranks once; rows for one
      // vec_id are identical (single query), so any-row dedup is exact
      .dropDuplicates("vec_id")
      .withColumn("cos_sim", VectorExprs.cosineSim(col("embedding"), col("qv")))
      .select(col("vec_id"), col("label"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Embedding-cosine near-duplicate pairs, blocked by LSH bucket so the
    * pair space is bucket-local (standard dedup blocking at scale), through
    * the capped bucket cover ([[graft.plans.SimJoin.blockPairs]]; with
    * 2^planes blocking keys a plain bucket self-join has at most that many
    * tasks, measured at 10x bench scale as one 11 s-tasksum stage on 8
    * tasks). `maxBucketSize` drops a hot bucket (near-constant embeddings)
    * silently, and the oracle drops it the same way — massive duplicate
    * clusters belong to the canonical-assignment APIs, not pair emission.
    */
  def embeddingDupPairs(corpus: DataFrame, threshold: Double, planes: Int = 6,
                        maxBucketSize: Int = 1000,
                        hashMode: String = "xx"): DataFrame =
    graft.plans.SimJoin.blockPairs(
        corpus.select(col("vec_id"), col("embedding"),
          VectorExprs.lshBucket(col("embedding"), planes, 0, hashMode).as("bucket")),
        Seq("bucket"), "vec_id", Seq("embedding"), maxBucketSize)
      .withColumn("cos_sim",
        VectorExprs.cosineSim(col("embedding_a"), col("embedding_b")))
      .filter(col("cos_sim") >= threshold)
      .select(col("vec_id_a").as("id_a"), col("vec_id_b").as("id_b"), col("cos_sim"))

  /** Scalable embedding dedup output: one row per vector with at most
    * `tables` canonical candidates — each independent hyperplane family
    * contributes its bucket's minimum vec_id, candidates are
    * cosine-verified, and the minimum verified id wins. One hash table
    * alone is fragile (a non-duplicate lower-id bucketmate fails
    * verification and blocks the collapse); OR-amplification across
    * tables makes a true duplicate share SOME bucket with its canonical
    * with probability 1 − (1 − p^planes)^tables. O(corpus·tables) rows
    * end-to-end, never pairs — mirrors TextDedup.minhashCanonical (whose
    * bands play the same role).
    */
  def embeddingCanonical(corpus: DataFrame, threshold: Double,
                         planes: Int = 6, tables: Int = 3,
                         hashMode: String = "xx"): DataFrame = {
    val vecs = corpus.select(col("vec_id"), col("embedding")).cache()
    val candidates = (0 until tables).map { t =>
      val bucketed = vecs.select(col("vec_id"), col("embedding"),
        VectorExprs.lshBucket(col("embedding"), planes, t * planes, hashMode).as("bucket"))
      val bucketMin = bucketed.groupBy(col("bucket"))
        .agg(min(col("vec_id")).as("bucket_min"))
      bucketed.join(bucketMin, "bucket")
        .filter(col("bucket_min") < col("vec_id"))
        .select(col("vec_id"), col("bucket_min").as("cand"))
    }.reduce(_ unionByName _).distinct()
    val verified = candidates
      .join(vecs, "vec_id")
      .join(vecs.select(col("vec_id").as("cand"),
        col("embedding").as("emb_c")), "cand")
      .filter(VectorExprs.cosineSim(col("embedding"), col("emb_c")) >= threshold)
      .groupBy(col("vec_id"))
      .agg(min(col("cand")).as("canonical_id"))
    vecs.select(col("vec_id"))
      .join(verified, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("canonical_id"), col("vec_id")).as("canonical_id"))
      .withColumn("is_canonical", col("vec_id") === col("canonical_id"))
  }

  // ---- DuckDB oracle fragments for the md5-mode LSH queries --------------

  /** Sequential double fold Σ expr(i) for i = 1..len — the q28-pinned
    * pattern that matches the kernels' ascending-index accumulation.
    */
  private[vector] def duckFold(expr: String, len: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(generate_series(1, $len), i -> $expr)), (acc, v) -> acc + v)"

  /** Exact cosine between two list columns, bit-equal to
    * [[VectorExprs.CosineSim]] (same fold order, same zero-norm guard).
    */
  private[vector] def duckCosine(a: String, b: String): String = {
    val dot = duckFold(s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)", s"len($a)")
    val na = s"sqrt(${duckFold(s"CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)", s"len($a)")})"
    val nb = s"sqrt(${duckFold(s"CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)", s"len($b)")})"
    s"CASE WHEN $na = 0 OR $nb = 0 THEN 0.0 ELSE $dot / ($na * $nb) END"
  }

  /** coefs(p, cl): md5-mode hyperplane coefficient lists for global plane
    * ids 0..nPlanes-1 over the embeddings fixture's 64 dims — the exact
    * mirror of [[VectorExprs.LshBucket]]'s md5 coefficients.
    */
  private def duckCoefs(nPlanes: Int): String =
    s"""coefh AS (
       |  SELECT p, i, md5('graft_lsh:' || CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)) AS __mh
       |  FROM range($nPlanes) t(p) CROSS JOIN range(64) s(i)),
       |coef AS (
       |  SELECT p, i,
       |    (${graft.text.Md5P61.duckBaseHex("__mh")} % 2000 - 1000) / 1000.0 AS c
       |  FROM coefh),
       |coefs AS (SELECT p, list(c ORDER BY i) AS cl FROM coef GROUP BY p)""".stripMargin

  /** vecs(vec_id, embedding) × coefs → buckets(vec_id, tbl, bucket):
    * sign-of-projection bits packed per `planesPerTable`-plane family.
    */
  private def duckBuckets(planesPerTable: Int): String =
    s"""scores AS (
       |  SELECT v.vec_id, c.p,
       |    ${duckFold("CAST(v.embedding[i] AS DOUBLE) * c.cl[i]", "len(v.embedding)")} AS score
       |  FROM vecs v CROSS JOIN coefs c),
       |buckets AS (
       |  SELECT vec_id, p // $planesPerTable AS tbl,
       |    CAST(sum(CASE WHEN score >= 0
       |        THEN CAST(1 AS BIGINT) << (p % $planesPerTable)
       |        ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
       |  FROM scores GROUP BY vec_id, p // $planesPerTable)""".stripMargin

  // ---- query wrappers ----------------------------------------------------

  private def queryVec(s: SparkSession, dir: String): DataFrame =
    // vec_id is a key, so this is one row on any real corpus; limit(1)
    // additionally pins the single-query contract on pathological inputs
    // (a fully-duplicated shard would otherwise present N copies of the
    // query row and trip annLsh's multi-query guard)
    Tables.embeddings(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding").as("qv")).limit(1)

  /** Brute-force cosine top-20 vs vec_id=0. Oracle computes the identical
    * double-precision sequential fold via list_reduce on a zipped pair list.
    */
  val qBruteForce = GraftQuery(
    "q28_ann_bruteforce",
    (s, dir) =>
      cosineTopK(Tables.embeddings(s, dir), queryVec(s, dir), 20),
    Some("""
      WITH q AS (SELECT embedding AS qv FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) embeddings WHERE vec_id = 0),
      scored AS (
        SELECT vec_id, label,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1, len(embedding)),
              i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))),
            (acc, v) -> acc + v) AS dot,
          sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1, len(embedding)),
              i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
            (acc, v) -> acc + v)) AS n_a,
          sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1, len(qv)),
              i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))),
            (acc, v) -> acc + v)) AS n_q
        FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) embeddings CROSS JOIN q)
      SELECT vec_id, label,
        CASE WHEN n_a = 0 OR n_q = 0 THEN 0.0 ELSE dot / (n_a * n_q) END AS cos_sim
      FROM scored
      ORDER BY cos_sim DESC, vec_id
      LIMIT 20"""))

  /** Batched top-10 for three query vectors — oracle computes the same
    * sequential double-fold cosine and row_number in DuckDB.
    */
  val qBatchTopK = GraftQuery(
    "q54_ann_batch",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      cosineTopKBatch(e, queries, 10)
        .orderBy(col("query_id"), col("rn"))
    },
    Some("""
      WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) embeddings WHERE vec_id IN (0, 1, 2)),
      scored AS (
        SELECT q.query_id, e.vec_id,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1, len(e.embedding)),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))),
            (acc, v) -> acc + v) AS dot,
          sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1, len(e.embedding)),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
            (acc, v) -> acc + v)) AS n_e,
          sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1, len(q.qv)),
              i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))),
            (acc, v) -> acc + v)) AS n_q
        FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) e CROSS JOIN q),
      ranked AS (
        SELECT query_id, vec_id,
          CASE WHEN n_e = 0 OR n_q = 0 THEN 0.0 ELSE dot / (n_e * n_q) END AS cos_sim
        FROM scored),
      topk AS (
        SELECT query_id, vec_id, cos_sim,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, vec_id) AS rn
        FROM ranked)
      SELECT query_id, rn, vec_id, cos_sim
      FROM topk
      WHERE rn <= 10
      ORDER BY query_id, rn"""))

  /** LSH-bucketed ANN in md5 hash mode: the oracle re-derives the
    * hyperplanes, buckets, multi-probe set and candidate union in DuckDB
    * and ranks by the identical cosine fold — hash-checking bucketing AND
    * ranking end to end (ScalaTest additionally asserts recall vs brute
    * force).
    */
  val qAnnLsh = GraftQuery(
    "q29_ann_lsh",
    (s, dir) =>
      annLsh(Tables.embeddings(s, dir), queryVec(s, dir), 20, hashMode = "md5"),
    Some(s"""
      WITH vecs AS (SELECT vec_id, embedding FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) embeddings),
      ${duckCoefs(18)},
      ${duckBuckets(6)},
      qbuckets AS (SELECT tbl, bucket AS qbucket FROM buckets WHERE vec_id = 0),
      probes AS (
        SELECT tbl, unnest(list_prepend(qbucket,
          list_transform(generate_series(0, 5),
            pp -> xor(qbucket, CAST(1 AS BIGINT) << pp)))) AS probe
        FROM qbuckets),
      cands AS (
        SELECT DISTINCT b.vec_id
        FROM buckets b JOIN probes q ON b.tbl = q.tbl AND b.bucket = q.probe),
      qv AS (SELECT embedding AS qe FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) embeddings WHERE vec_id = 0)
      SELECT e.vec_id, e.label,
             ${duckCosine("e.embedding", "q.qe")} AS cos_sim
      FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) e JOIN cands cd ON cd.vec_id = e.vec_id CROSS JOIN qv q
      ORDER BY cos_sim DESC, e.vec_id
      LIMIT 20"""))

  /** Embedding near-dup pairs with planted duplicates (corpus vectors are
    * random — near-exact pairs only exist if we plant them). md5 mode:
    * the oracle rebuilds bucket blocking + cap + cosine verify in DuckDB.
    */
  val qEmbeddingDedup = GraftQuery(
    "q30_embedding_dedup",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val planted = e.filter(col("vec_id") < 10).select(
        (col("vec_id") + 1000000).as("vec_id"),
        col("embedding"), col("label"))
      embeddingDupPairs(
        e.unionByName(planted).select(col("vec_id"), col("embedding")),
        threshold = 0.999, hashMode = "md5")
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""
      WITH vecs AS (
        SELECT vec_id, embedding FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, embedding
        FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) embeddings WHERE vec_id < 10),
      ${duckCoefs(6)},
      ${duckBuckets(6)},
      capped AS (SELECT vec_id, bucket FROM buckets
        QUALIFY count(*) OVER (PARTITION BY bucket) <= 1000),
      pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM capped a JOIN capped b ON a.bucket = b.bucket
        WHERE a.vec_id < b.vec_id),
      scored AS (
        SELECT p.id_a, p.id_b,
               ${duckCosine("va.embedding", "vb.embedding")} AS cos_sim
        FROM pairs p
        JOIN vecs va ON va.vec_id = p.id_a
        JOIN vecs vb ON vb.vec_id = p.id_b)
      SELECT id_a, id_b, cos_sim
      FROM scored
      WHERE cos_sim >= 0.999
      ORDER BY id_a, id_b"""))

  /** Canonical embedding dedup over embeddings + planted exact copies —
    * O(corpus) output rows regardless of cluster sizes. md5 mode → the
    * multi-table OR-amplification pipeline gets a real oracle row.
    */
  val qEmbeddingCanonical = GraftQuery(
    "q56_embedding_canonical",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val planted = e.filter(col("vec_id") < 10).select(
        (col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      embeddingCanonical(
        e.select(col("vec_id"), col("embedding")).unionByName(planted),
        threshold = 0.999, hashMode = "md5")
        .orderBy(col("vec_id"))
    },
    Some(s"""
      WITH vecs AS (
        SELECT vec_id, embedding FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, embedding
        FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) embeddings WHERE vec_id < 10),
      ${duckCoefs(18)},
      ${duckBuckets(6)},
      bmin AS (SELECT tbl, bucket, min(vec_id) AS bucket_min
        FROM buckets GROUP BY tbl, bucket),
      cands AS (
        SELECT DISTINCT b.vec_id, m.bucket_min AS cand
        FROM buckets b JOIN bmin m ON b.tbl = m.tbl AND b.bucket = m.bucket
        WHERE m.bucket_min < b.vec_id),
      ver AS (
        SELECT c.vec_id, min(c.cand) AS canonical_id
        FROM cands c
        JOIN vecs va ON va.vec_id = c.vec_id
        JOIN vecs vc ON vc.vec_id = c.cand
        WHERE ${duckCosine("va.embedding", "vc.embedding")} >= 0.999
        GROUP BY c.vec_id)
      SELECT v.vec_id,
             coalesce(r.canonical_id, v.vec_id) AS canonical_id,
             (coalesce(r.canonical_id, v.vec_id) = v.vec_id) AS is_canonical
      FROM vecs v LEFT JOIN ver r ON r.vec_id = v.vec_id
      ORDER BY v.vec_id"""))

  /** Random-projection (Johnson–Lindenstrauss) embedding sketch: project
    * each vector through a DETERMINISTIC pseudo-random ±-uniform matrix
    * R[inDim × outDim] derived from the md5-p61 base hash, so the matrix
    * is identical in any engine with md5 — the cheap dimensionality
    * reduction used as an ANN prefilter (distances are preserved within
    * (1±ε) at outDim = O(log n / ε²)).
    *
    * At 100 TB: R is a CONSTANT (inDim·outDim doubles — a few KB),
    * embedded as a literal in the projection expression; the whole
    * operator is one narrow map, no shuffle, no broadcast, no driver
    * data path. Output is exploded to (vec_id, out_dim, value) scalars.
    * The sequential fold per output dim matches DuckDB's list_reduce
    * term-for-term, so even the float math is bit-exact.
    */
  def randomProjection(corpus: DataFrame, inDim: Int, outDim: Int): DataFrame = {
    require(inDim >= 1 && outDim >= 1,
      s"randomProjection dims must be >= 1, got in=$inDim out=$outDim")
    val R: Seq[Double] = (0 until inDim * outDim).map { k =>
      val (i, j) = (k / outDim, k % outDim)
      ((graft.text.Md5P61.base(s"graft_r:$i:$j") % 1001L) - 500L).toDouble / 500.0
    }
    val rLit = typedLit(R)
    corpus
      .filter(size(col("embedding")) === inDim)
      .select(col("vec_id"),
        explode(transform(sequence(lit(0), lit(outDim - 1)), j =>
          struct(j.as("out_dim"),
            aggregate(sequence(lit(1), lit(inDim)), lit(0.0), (acc, i) =>
              acc + element_at(col("embedding"), i).cast("double") *
                element_at(rLit, (i - 1) * outDim + j + 1)).as("value"))))
          .as("p"))
      .select(col("vec_id"), col("p.out_dim").as("out_dim"), col("p.value").as("value"))
      .orderBy(col("vec_id"), col("out_dim"))
  }

  /** Mutual-kNN graph over LSH-blocked candidates: every vector ranks its
    * bucket-mates by cosine, keeps its top `k`, and an undirected edge
    * survives only when BOTH endpoints keep each other — the
    * hub-suppressing graph construction semantic-dedup clustering and
    * manifold methods start from (a hub that everyone ranks but that
    * ranks nobody back gets no edges, instead of degree n).
    *
    * Scale shape: the pair space is bucket-local ([[embeddingDupPairs]]'s
    * blocking + hot-bucket cap — never all-pairs), the top-k window
    * partitions on the source vector with fan-in bounded by the bucket
    * cap, and mutuality is one self-join of two already-k-bounded sides
    * (≤ n·k rows each).
    */
  def knnGraph(corpus: DataFrame, k: Int, planes: Int = 6,
               maxBucketSize: Int = 1000, hashMode: String = "xx"): DataFrame = {
    require(k >= 1, s"knnGraph needs k >= 1, got $k")
    val pairs = embeddingDupPairs(corpus, threshold = -1.0, planes,
      maxBucketSize, hashMode)
    val directed = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"), col("cos_sim"))
      .unionByName(pairs
        .select(col("id_b").as("src"), col("id_a").as("dst"), col("cos_sim")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("cos_sim").desc, col("dst"))
    val topk = directed.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("src"), col("dst"), col("cos_sim"))
    topk.join(topk.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"))
      .filter(col("src") < col("dst"))
      .select(col("src").as("id_a"), col("dst").as("id_b"), col("cos_sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val qRandomProjection = GraftQuery(
    "q69_random_projection",
    (s, dir) => randomProjection(Tables.embeddings(s, dir), inDim = 64, outDim = 8),
    Some(s"""
      WITH r AS (
        SELECT i, j,
          (CAST(${graft.text.Md5P61.duckBase("concat('graft_r:', i, ':', j)")} % 1001
            AS DOUBLE) - 500) / 500.0 AS rv
        FROM generate_series(0, 63) g1(i) CROSS JOIN generate_series(0, 7) g2(j)),
      rl AS (SELECT j, list(rv ORDER BY i) AS rlist FROM r GROUP BY j)
      SELECT e.vec_id AS vec_id, rl.j AS out_dim,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(generate_series(1, 64),
            __pi -> CAST(e.embedding[__pi] AS DOUBLE) * rl.rlist[__pi])),
          (__pa, __pb) -> __pa + __pb) AS value
      FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) e CROSS JOIN rl
      WHERE len(e.embedding) = 64
      ORDER BY vec_id, out_dim"""))

  /** Mutual-kNN graph in md5 mode so the whole pipeline — blocking,
    * per-source ranking, mutuality join — gets a DuckDB transliteration
    * (the q30 oracle extended by a QUALIFY rank and a reverse self-join).
    */
  val qKnnGraph = GraftQuery(
    "q126_knn_graph",
    (s, dir) => knnGraph(
      Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
      k = 5, hashMode = "md5"),
    Some(s"""
      WITH vecs AS (SELECT vec_id, embedding FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) embeddings),
      ${duckCoefs(6)},
      ${duckBuckets(6)},
      capped AS (SELECT vec_id, bucket FROM buckets
        QUALIFY count(*) OVER (PARTITION BY bucket) <= 1000),
      pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM capped a JOIN capped b ON a.bucket = b.bucket
        WHERE a.vec_id < b.vec_id),
      scored AS (
        SELECT p.id_a, p.id_b,
               ${duckCosine("va.embedding", "vb.embedding")} AS cos_sim
        FROM pairs p
        JOIN vecs va ON va.vec_id = p.id_a
        JOIN vecs vb ON vb.vec_id = p.id_b),
      directed AS (
        SELECT id_a AS src, id_b AS dst, cos_sim FROM scored
        UNION ALL
        SELECT id_b AS src, id_a AS dst, cos_sim FROM scored),
      topk AS (
        SELECT src, dst, cos_sim FROM directed
        QUALIFY row_number() OVER (PARTITION BY src
                                   ORDER BY cos_sim DESC, dst) <= 5)
      SELECT t.src AS id_a, t.dst AS id_b, t.cos_sim
      FROM topk t JOIN topk r ON t.src = r.dst AND t.dst = r.src
      WHERE t.src < t.dst
      ORDER BY id_a, id_b"""))

  val queries: Seq[GraftQuery] =
    Seq(qBruteForce, qBatchTopK, qAnnLsh, qEmbeddingDedup, qEmbeddingCanonical,
      qRandomProjection, qKnnGraph)
}
