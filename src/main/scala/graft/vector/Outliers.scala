package graft.vector

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding-space outlier detection: distance of every vector to the
  * corpus centroid, z-scored against the distance distribution — the
  * standard first-pass screen for mis-embedded / off-distribution samples
  * before training (and the gating step of outlier-aware sampling).
  *
  * Exactness design (what makes a global mean over floats oracle-able):
  * components are quantized to integers (×1e6, round) up front, so
  *  - the per-dimension centroid sums are LONG sums — exact and
  *    order-independent at any partitioning (a double sum over 10^10 rows
  *    exceeds 2^53 and starts rounding; longs don't until 9.2e18);
  *  - the per-vector distance is a fixed-order sequential fold over the 64
  *    dims (bit-equal in any engine);
  *  - distances are rounded to 6 dp and accumulated as DECIMAL for the
  *    mean/variance, so the z-scores are partitioning-independent too.
  *
  * Distributed shape: one (dim, qval) shuffle whose key cardinality is the
  * embedding dimension (64 groups — trivially partial-aggregated map-side),
  * one 1-row centroid broadcast, a narrow fold, one 1-row stats broadcast.
  * The corpus is never shuffled and no window appears anywhere.
  */
object Outliers {

  private val Q = 1000000.0

  /** (vec_id, label, dist, z_score, is_outlier); dist is the centroid
    * L2 distance in original (unquantized) units.
    */
  def centroidOutliers(emb: DataFrame, zThreshold: Double = 2.0): DataFrame = {
    // The lambda must be TOTAL even though [[Tables.embeddings]] excludes
    // NaN/Inf vectors at the boundary: whole-stage codegen hoists this
    // transform as an unconditional subexpression inside the filter that
    // carries the inferred isnotnull(qv) constraint, so it evaluates on
    // rows the boundary filter rejects — and the ANSI long cast of a NaN
    // aborts the stage (r14 extreme-numerics sweep). The guard branch can
    // never reach the output; it only keeps the hoisted eval from throwing.
    val quant = emb.select(col("vec_id"), col("label"),
      transform(col("embedding").cast("array<double>"),
        v => when(isnan(v) || abs(v) === lit(Double.PositiveInfinity), lit(0L))
          .otherwise(round(v * Q).cast("long"))).as("qv"))

    val centroid = quant
      .select(posexplode(col("qv")).as(Seq("dim", "qval")))
      .groupBy(col("dim")).agg(sum(col("qval")).as("s"), count(lit(1)).as("cnt"))
      .agg(sort_array(collect_list(struct(col("dim"), col("s")))).as("sums"),
        max(col("cnt")).as("n"))
      .select(transform(col("sums"),
        x => x.getField("s").cast("double") / col("n")).as("cvec"))

    val dists = quant.crossJoin(broadcast(centroid))
      .select(col("vec_id"), col("label"),
        GraftQuery.duckRound(sqrt(aggregate(
          zip_with(col("qv").cast("array<double>"), col("cvec"),
            (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, v) => acc + v)) / Q, 6).as("dist"))

    val stats = dists.select(col("dist").cast("decimal(18,6)").as("d"))
      .agg(sum(col("d")).cast("double").as("s1"),
        sum(col("d") * col("d")).cast("double").as("s2"),
        count(lit(1)).as("n"))

    // degenerate-corpus guards (oracle mirrors with CASE, ordered so the
    // n−1 division is never evaluated): sample sd is undefined below two
    // vectors, the z-score whenever sd = 0 (all distances identical) —
    // NULL z (and NULL is_outlier), not a divide-by-zero abort
    val sd = sqrt((col("s2") - col("s1") * col("s1") / col("n")) /
      (col("n") - 1))
    dists.crossJoin(broadcast(stats))
      .select(col("vec_id"), col("label"), col("dist"),
        when(col("n") < 2, lit(null).cast("double"))
          .when(sd === 0.0, lit(null).cast("double"))
          .otherwise(GraftQuery.duckRound((col("dist") - col("s1") / col("n")) / sd, 6))
          .as("z_score"))
      .withColumn("is_outlier", abs(col("z_score")) > zThreshold)
      .orderBy(col("vec_id"))
  }

  // ---- queries -------------------------------------------------------------

  val qOutliers = GraftQuery(
    "q76_embedding_outliers",
    (s, dir) => centroidOutliers(Tables.embeddings(s, dir), zThreshold = 2.0),
    Some("""
      WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding,
                 v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) embeddings
      ), d AS (
        SELECT u.dim AS dim, u.qval AS qval FROM (
          SELECT unnest(list_transform(generate_series(1, len(qv)),
            i -> struct_pack(dim := i, qval := qv[i]))) AS u
          FROM q) s
      ), cs AS (
        SELECT dim, sum(qval) AS s, count(*) AS n FROM d GROUP BY dim
      ), cent AS (
        SELECT list(CAST(s AS DOUBLE) / n ORDER BY dim) AS cvec, max(n) AS n
        FROM cs
      ), dist AS (
        SELECT vec_id, label,
               round(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(generate_series(1, len(qv)),
                   i -> (CAST(qv[i] AS DOUBLE) - cvec[i]) *
                        (CAST(qv[i] AS DOUBLE) - cvec[i]))),
                 (acc, v) -> acc + v)) / 1000000.0, 6) AS dist
        FROM q CROSS JOIN cent
      ), st AS (
        SELECT CAST(sum(CAST(dist AS DECIMAL(18,6))) AS DOUBLE) AS s1,
               CAST(sum(CAST(dist AS DECIMAL(18,6)) * CAST(dist AS DECIMAL(18,6)))
                    AS DOUBLE) AS s2,
               count(*) AS n
        FROM dist
      ), z AS (
        SELECT vec_id, label, dist,
               CASE WHEN n < 2 THEN NULL
                    WHEN sqrt((s2 - s1 * s1 / n) / (n - 1)) = 0 THEN NULL
                    ELSE round((dist - s1 / n) /
                               sqrt((s2 - s1 * s1 / n) / (n - 1)), 6)
               END AS z_score
        FROM dist CROSS JOIN st
      )
      SELECT vec_id, label, dist, z_score, abs(z_score) > 2.0 AS is_outlier
      FROM z ORDER BY vec_id"""))

  val queries: Seq[GraftQuery] = Seq(qOutliers)
}
