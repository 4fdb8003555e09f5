package graft.vector

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Label-centroid separation report: per-label mean embedding and the
  * pairwise cosine between label centroids — the "are my classes even
  * separable" audit run before trusting labels for semantic dedup
  * cluster seeding or classifier distillation.
  *
  * Scale shape: one narrow posexplode + a (label, dim) aggregate (the
  * payload never shuffles with its vector id), then everything is
  * O(labels × dims) — tiny. The pairwise stage broadcast-nested-loops a
  * frame of O(labels) rows, never corpus rows.
  *
  * Determinism: per-dim sums accumulate round-to-8dp DECIMAL terms (the
  * q92 idiom); centroid vectors are rebuilt in dim order and the cosine
  * folds sequentially over dims, matching the oracle's list_reduce
  * term-for-term (the q28/q69 fold idiom).
  */
object Centroids {

  /** (label_a, label_b, n_a, n_b, centroid_cos) for label_a < label_b. */
  def classSeparation(embs: DataFrame, dims: Int): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    val vals = embs.filter(size(col("embedding")) === dims)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
    val cent = vals.groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(GraftQuery.duckRound(col("v").cast("double"), 8).cast("decimal(28,8)")).as("s"))
      .select(col("label"), col("dim"), col("n"),
        (col("s").cast("double") / col("n").cast("double")).as("m"))
    val vecs = cent.groupBy(col("label"))
      .agg(max(col("n")).as("n"),
        transform(sort_array(collect_list(struct(col("dim"), col("m")))),
          x => x.getField("m")).as("mv"))
    val a = vecs.select(col("label").as("label_a"), col("n").as("n_a"),
      col("mv").as("va"))
    val b = vecs.select(col("label").as("label_b"), col("n").as("n_b"),
      col("mv").as("vb"))
    def fold(e: org.apache.spark.sql.Column) =
      aggregate(e, lit(0.0), (acc, x) => acc + x)
    val dot = fold(zip_with(col("va"), col("vb"), (x, y) => x * y))
    val na = sqrt(fold(zip_with(col("va"), col("va"), (x, y) => x * y)))
    val nb = sqrt(fold(zip_with(col("vb"), col("vb"), (x, y) => x * y)))
    a.crossJoin(broadcast(b)) // O(labels) rows each side, never corpus rows
      .filter(col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        when(na === 0.0 || nb === 0.0, lit(0.0))
          .otherwise(dot / (na * nb)).as("centroid_cos"))
      .orderBy(col("label_a"), col("label_b"))
  }

  // ---- queries -------------------------------------------------------------

  private def duckFold(expr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(generate_series(1, 64), i -> $expr)), " +
      "(acc, x) -> acc + x)"

  val qClassSeparation = GraftQuery(
    "q137_class_separation",
    (s, dir) => classSeparation(Tables.embeddings(s, dir), dims = 64),
    Some(s"""
      WITH vals AS (
        SELECT label, d.i - 1 AS dim, CAST(embedding[d.i] AS DOUBLE) AS v
        FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) embeddings CROSS JOIN generate_series(1, 64) d(i)
        WHERE len(embedding) = 64),
      cent AS (
        SELECT label, dim, count(*) AS n,
               CAST(sum(CAST(round(v, 8) AS DECIMAL(28,8))) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS m
        FROM vals GROUP BY label, dim),
      vecs AS (
        SELECT label, max(n) AS n, list(m ORDER BY dim) AS mv
        FROM cent GROUP BY label)
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
             CASE WHEN sqrt(${duckFold("a.mv[i] * a.mv[i]")}) = 0.0
                    OR sqrt(${duckFold("b.mv[i] * b.mv[i]")}) = 0.0 THEN 0.0
                  ELSE ${duckFold("a.mv[i] * b.mv[i]")}
                    / (sqrt(${duckFold("a.mv[i] * a.mv[i]")})
                       * sqrt(${duckFold("b.mv[i] * b.mv[i]")}))
             END AS centroid_cos
      FROM vecs a JOIN vecs b ON a.label < b.label
      ORDER BY label_a, label_b"""))

  val queries: Seq[GraftQuery] = Seq(qClassSeparation)
}
