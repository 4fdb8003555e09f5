package graft.vector

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Embedding covariance + PCA: the d×d sample covariance matrix of the
  * embedding columns in ONE distributed pass, and the top principal
  * component via driver-side power iteration over that (tiny) matrix —
  * the standard variance-structure probe of an embedding corpus (and the
  * front half of PCA whitening / dimensionality audits).
  *
  * Exactness design (the [[Outliers]] quantized idiom): components are
  * quantized to ×1e6 integers up front, so every statistic the oracle
  * checks is built from LONG sums — S_ij = Σ qᵢqⱼ, S_i = Σ qᵢ — which are
  * exact and order-independent at any partitioning. The covariance uses
  * the centering-free identity cov = (n·S_ij − S_i·S_j) / (n(n−1)·Q²):
  * the numerator is computed in exact DECIMAL(38,0) integer arithmetic
  * (it exceeds int64 — ~1e19 at corpus scale), so the ONLY float op is
  * the final division — one rounding, identical in any engine.
  *
  * Scale shape: the [[VectorExprs.GramMatrix]] aggregate keeps ONE
  * O(d²) long buffer per partition and does the d² multiply-adds in a
  * tight JIT loop per vector — no row expansion, and the shuffle
  * carries one ~17 KB buffer per partition, constant in corpus size.
  * No second pass for the means: S_i rides in the same buffer. The
  * corpus is never shuffled; the collect in [[topComponentOf]] is the
  * d×d matrix — schema-bounded (64² doubles), never data.
  */
object Pca {

  private val Q = 1000000.0
  private val d38 = DecimalType(38, 0)

  private def quantized(emb: DataFrame): DataFrame =
    emb.select(
      transform(col("embedding").cast("array<double>"),
        v => round(v * Q).cast("long")).as("qv"))

  /** Shared back half: (i, j, sij, si, sj, n) long sums → covariance.
    * Sample covariance is undefined below two vectors — NULL (mirrored in
    * the oracle's CASE), never an n(n−1)=0 divide-by-zero abort. */
  private def covFromSums(sums: DataFrame): DataFrame =
    sums.select(col("i"), col("j"),
      when(col("n") < 2, lit(null).cast("double")).otherwise(GraftQuery.duckRound(
        (col("n").cast(d38) * col("sij").cast(d38) -
          col("si").cast(d38) * col("sj").cast(d38)).cast("double") /
          ((col("n") * (col("n") - 1)).cast("double") * lit(Q * Q)),
        10)).as("cov"))
      .orderBy(col("i"), col("j"))

  /** Upper-triangle sample covariance (1-based dims): (i, j, cov) for
    * i ≤ j, over ×1e6-quantized components (quantization error ~1e-6 on
    * inputs in [-1, 1] — the defined statistic, matching the oracle).
    * The sums come from the [[VectorExprs.GramMatrix]] aggregate — one
    * tight d² pass per vector, one O(d²) buffer per partition, no row
    * expansion anywhere.
    */
  def covarianceMatrix(emb: DataFrame): DataFrame =
    covFromSums(quantized(emb)
      .agg(VectorExprs.gramMatrix(col("qv")).as("g"))
      .select(explode(col("g")).as("t"))
      .select(col("t.i").as("i"), col("t.j").as("j"), col("t.p").as("sij"),
        col("t.xi").as("si"), col("t.xj").as("sj"), col("t.n").as("n")))

  /** The composable pair-explode form of the same sums — the oracle's
    * shape, kept as the differential reference for [[covarianceMatrix]]
    * (identical output, but materializes d(d+1)/2 rows per vector).
    */
  private[vector] def covarianceMatrixComposable(emb: DataFrame): DataFrame =
    covFromSums(quantized(emb)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(qv) - 1), i ->
             transform(sequence(i, size(qv) - 1), j ->
               named_struct(
                 'i', CAST(i + 1 AS BIGINT),
                 'j', CAST(j + 1 AS BIGINT),
                 'p', qv[i] * qv[j],
                 'xi', qv[i],
                 'xj', qv[j]))))""")).as("t"))
      .select(col("t.i").as("i"), col("t.j").as("j"),
        col("t.p").as("p"), col("t.xi").as("xi"), col("t.xj").as("xj"))
      .groupBy(col("i"), col("j"))
      .agg(
        sum(col("p")).as("sij"),
        sum(col("xi")).as("si"),
        sum(col("xj")).as("sj"),
        count(lit(1)).as("n")))

  /** Power iteration on a symmetric matrix given as upper-triangle
    * (i, j, cov) 1-based entries. Deterministic: starts from the
    * all-ones direction, fixed iteration count, sign fixed so the
    * largest-|component| coordinate is positive.
    */
  def topComponent(upper: Seq[(Int, Int, Double)], dim: Int,
                   iters: Int = 100): Array[Double] = {
    require(dim >= 1 && iters >= 1, s"bad dim=$dim iters=$iters")
    val m = Array.ofDim[Double](dim, dim)
    upper.foreach { case (i, j, c) =>
      m(i - 1)(j - 1) = c
      m(j - 1)(i - 1) = c
    }
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var it = 0
    while (it < iters) {
      val nv = Array.tabulate(dim) { r =>
        var s = 0.0
        var c = 0
        while (c < dim) { s += m(r)(c) * v(c); c += 1 }
        s
      }
      val norm = math.sqrt(nv.map(x => x * x).sum)
      require(norm > 0, "zero matrix has no principal component")
      v = nv.map(_ / norm)
      it += 1
    }
    val pivot = v.indices.maxBy(i => math.abs(v(i)))
    if (v(pivot) < 0) v.map(-_) else v
  }

  /** Top principal component of the embedding corpus: distributed
    * covariance pass, then power iteration on the collected d×d matrix
    * (bounded by the schema dimension, never the data).
    */
  def topComponentOf(emb: DataFrame, iters: Int = 100): Array[Double] = {
    val rows = covarianceMatrix(emb)
      .collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2)))
    val dim = rows.iterator.map(_._2).max
    topComponent(rows.toIndexedSeq, dim, iters)
  }

  // ---- queries -------------------------------------------------------------

  val qCovariance = GraftQuery(
    "q163_covariance",
    (s, dir) => covarianceMatrix(Tables.embeddings(s, dir)),
    Some("""
      WITH q AS (
        SELECT list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
               AS qv
        FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) embeddings),
      pairs AS (
        SELECT ti.i, tj.j,
               qv[ti.i] * qv[tj.j] AS p, qv[ti.i] AS xi, qv[tj.j] AS xj
        FROM q, range(1, 65) ti(i), range(1, 65) tj(j)
        WHERE tj.j >= ti.i),
      sums AS (
        SELECT i, j, sum(p) AS sij, sum(xi) AS si, sum(xj) AS sj,
               count(*) AS n
        FROM pairs GROUP BY i, j)
      SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
             CASE WHEN n < 2 THEN NULL
                  ELSE round(CAST(CAST(n AS HUGEINT) * sij
                             - CAST(si AS HUGEINT) * sj AS DOUBLE)
                       / (CAST(n * (n - 1) AS DOUBLE) * 1e12), 10)
             END AS cov
      FROM sums ORDER BY i, j"""))

  val queries: Seq[GraftQuery] = Seq(qCovariance)
}
