package graft.vector

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Int8 scalar-quantization audit for an embedding column: per-dimension
  * min/max ranges, the uint8 code each value maps to, and the
  * reconstruction-error profile (MSE, worst case) — the compression
  * check run before shipping embeddings to a 4×-smaller serving index.
  *
  * Scale shape: one narrow posexplode (vec_id never shuffles with its
  * payload), a 64-row range aggregate joined back (AQE broadcasts it),
  * and one final per-dim aggregate. Codes are floor arithmetic — no
  * round-tie semantics to disagree on — and the MSE accumulates
  * round-to-12dp DECIMAL terms (the q92 idiom) so the float sum is
  * partitioning- and engine-independent.
  */
object Quantize {

  /** Per dimension: lo, hi, n, mse, max_abs_err of the uint8
    * quantize→dequantize round trip.
    */
  def quantizationAudit(embs: DataFrame, dims: Int): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    val vals = embs.filter(size(col("embedding")) === dims)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim"), col("v").cast("double").as("v"))
    val ranges = vals.groupBy(col("dim"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val width = col("hi") - col("lo")
    val code = when(width === 0.0, lit(0L)).otherwise(
      least(lit(255L), floor((col("v") - col("lo")) * 256.0 / width).cast("long")))
    // ranges is dims rows — broadcast it EXPLICITLY: left to AQE the join
    // plans as a sort-merge on dim, which exchanges the full exploded
    // value stream on a dims-key shuffle that byte-coalescing then folds
    // to one task (measured at 10x bench scale: 2x 2.6 s single-task
    // stages). Broadcast keeps the audit arithmetic in the scan stage at
    // full scan parallelism; the per-dim range agg exchanges only
    // dims x partitions partial rows.
    val audited = vals.join(broadcast(ranges), "dim")
      .withColumn("q", code)
      .withColumn("dq",
        col("lo") + (col("q").cast("double") + 0.5) * (col("hi") - col("lo")) / 256.0)
      .withColumn("err", col("v") - col("dq"))
    audited.groupBy(col("dim"))
      .agg(
        min(col("lo")).as("lo"), max(col("hi")).as("hi"),
        count(lit(1)).as("n"),
        (sum(GraftQuery.duckRound(col("err") * col("err"), 12).cast("decimal(30,12)"))
          .cast("double") / count(lit(1)).cast("double")).as("mse"),
        max(abs(col("err"))).as("max_abs_err"))
      .orderBy(col("dim"))
  }

  // ---- queries -------------------------------------------------------------

  val qQuantize = GraftQuery(
    "q130_quantization_audit",
    (s, dir) => quantizationAudit(Tables.embeddings(s, dir), dims = 64),
    Some("""
      WITH vals AS (
        SELECT d.i - 1 AS dim, CAST(e.embedding[d.i] AS DOUBLE) AS v
        FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) e
        CROSS JOIN generate_series(1, 64) d(i)
        WHERE len(e.embedding) = 64),
      ranges AS (
        SELECT dim, min(v) AS lo, max(v) AS hi FROM vals GROUP BY dim),
      audited AS (
        SELECT v.dim, v.v, r.lo, r.hi,
               CASE WHEN r.hi - r.lo = 0.0 THEN CAST(0 AS BIGINT)
                    ELSE least(CAST(255 AS BIGINT),
                      CAST(floor((v.v - r.lo) * 256.0 / (r.hi - r.lo)) AS BIGINT))
               END AS q
        FROM vals v JOIN ranges r USING (dim)),
      errs AS (
        SELECT dim, lo, hi,
               v - (lo + (CAST(q AS DOUBLE) + 0.5) * (hi - lo) / 256.0) AS err
        FROM audited)
      SELECT dim, min(lo) AS lo, max(hi) AS hi,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(err * err, 12) AS DECIMAL(30,12))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS mse,
             max(abs(err)) AS max_abs_err
      FROM errs GROUP BY dim ORDER BY dim"""))

  val queries: Seq[GraftQuery] = Seq(qQuantize)
}
