package graft.vector

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Precision/recall curve of a one-vs-rest centroid classifier over the
  * embedding corpus: score every vector by cosine to the target class
  * centroid, sweep the decision threshold, and report (threshold, tp,
  * fp, precision, recall) — the standard eval artifact for "is this
  * embedding space separable enough to filter/classify with".
  *
  * Scale shape: the centroid is an O(dims) aggregate broadcast back as
  * one row; scoring is a narrow map ([[VectorExprs.CosineSim]], one JIT
  * fold per vector); the sweep aggregates scores into 2dp threshold
  * buckets FIRST, so every window runs over the ≤201-row bucket table,
  * never vectors (the count-table idiom). Exactness: decimal-mean
  * centroid + fixed-order cosine fold + 2dp bucketing — all engine-
  * independent, so the curve is oracle-checkable bit-for-bit.
  */
object PrCurve {

  /** (threshold, tp, fp, precision, recall), thresholds descending. */
  def prCurve(embs: DataFrame, targetLabel: Int, dims: Int): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    val vals = embs
      .filter(size(col("embedding")) === dims && col("label") === targetLabel)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
    val cent = vals.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(GraftQuery.duckRound(col("v").cast("double"), 8).cast(DecimalType(28, 8))).as("s"))
      .select(col("dim"), (col("s").cast("double") / col("n").cast("double")).as("m"))
    val cv = cent.agg(
      transform(sort_array(collect_list(struct(col("dim"), col("m")))),
        x => x.getField("m")).as("cv"))
    val scored = embs.filter(size(col("embedding")) === dims)
      .crossJoin(broadcast(cv)) // O(dims) centroid row, never corpus rows
      .select(
        when(col("label") === targetLabel, 1L).otherwise(0L).as("pos"),
        GraftQuery.duckRound(VectorExprs.cosineSim(col("embedding"), col("cv")), 2).as("th"))
    val buckets = scored.groupBy(col("th"))
      .agg(sum(col("pos")).as("pos"), sum(lit(1L) - col("pos")).as("neg"))
    val desc = Window.orderBy(col("th").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    buckets
      .withColumn("tp", sum(col("pos")).over(desc))
      .withColumn("fp", sum(col("neg")).over(desc))
      .withColumn("total_pos", sum(col("pos")).over(full))
      .select(col("th").as("threshold"), col("tp"), col("fp"),
        GraftQuery.duckRound(col("tp").cast("double") /
          (col("tp") + col("fp")).cast("double"), 6).as("precision"),
        // zero-positives guard (oracle mirrors with CASE): a corpus with
        // no target-label rows has undefined recall — NULL, not an abort.
        // precision needs no guard: each bucket holds >= 1 row, so the
        // cumulative tp + fp is always >= 1.
        when(col("total_pos") === 0, lit(null).cast("double"))
          .otherwise(GraftQuery.duckRound(col("tp").cast("double") /
            col("total_pos").cast("double"), 6)).as("recall"))
      .orderBy(col("threshold").desc)
  }

  // ---- queries -------------------------------------------------------------

  val qPrCurve = GraftQuery(
    "q175_pr_curve",
    (s, dir) => prCurve(Tables.embeddings(s, dir), targetLabel = 0, dims = 64),
    Some(s"""
      WITH vals AS (
        SELECT d.i - 1 AS dim, CAST(embedding[d.i] AS DOUBLE) AS v
        FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) embeddings CROSS JOIN generate_series(1, 64) d(i)
        WHERE len(embedding) = 64 AND label = 0),
      cent AS (
        SELECT dim,
               CAST(sum(CAST(round(v, 8) AS DECIMAL(28,8))) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS m
        FROM vals GROUP BY dim),
      cvt AS (SELECT list(m ORDER BY dim) AS cv FROM cent),
      scored AS (
        SELECT CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos,
               round(${Similarity.duckCosine("e.embedding", "c.cv")}, 2) AS th
        FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) e CROSS JOIN cvt c
        WHERE len(embedding) = 64),
      buckets AS (
        SELECT th, CAST(sum(pos) AS BIGINT) AS pos,
               CAST(sum(1 - pos) AS BIGINT) AS neg
        FROM scored GROUP BY th),
      cum AS (
        SELECT th, pos, neg,
               sum(pos) OVER (ORDER BY th DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
               sum(neg) OVER (ORDER BY th DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
               sum(pos) OVER () AS total_pos
        FROM buckets)
      SELECT th AS threshold, CAST(tp AS BIGINT) AS tp,
             CAST(fp AS BIGINT) AS fp,
             round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
               AS precision,
             CASE WHEN total_pos = 0 THEN NULL
                  ELSE round(CAST(tp AS DOUBLE) / CAST(total_pos AS DOUBLE), 6)
             END AS recall
      FROM cum ORDER BY threshold DESC"""))

  val queries: Seq[GraftQuery] = Seq(qPrCurve)
}
