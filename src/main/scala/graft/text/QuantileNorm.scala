package graft.text

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-group quantile normalization of a score column: map every row's raw
  * score to its percent-rank WITHIN its group — how mixture pipelines make
  * quality thresholds comparable across sources whose raw score
  * distributions differ (a 0.6 from a clean source and a 0.6 from a spam
  * farm are not the same signal; their within-source quantiles are).
  *
  * Scale design — the reason this is NOT a `percent_rank() OVER (PARTITION
  * BY source)` window: that window drags every row of the hottest source
  * through one task. SQL PERCENT_RANK is (RANK−1)/(n−1) and RANK shares
  * tied values, so the rank of a row depends ONLY on the per-(group, score)
  * counts: rank−1 = Σ counts of strictly smaller scores. The whole
  * computation therefore runs on the AGGREGATED count table — the windows
  * below are partitioned AND sit over O(distinct scores per group) rows,
  * and the per-row result comes back via one unhinted equi-join on
  * (group, score). Bit-identical to the SQL window at any partitioning.
  */
object QuantileNorm {

  def quantileNormalize(scored: DataFrame, groupCol: String,
                        scoreCol: String): DataFrame = {
    // `scored` feeds BOTH the count table and the final join; without a
    // materialization its upstream (here: the regexp-heavy quality score
    // over full document text) executes twice — measured 1.83 s → ~1.0 s
    // at sf0.1. The checkpointed frame is the slim projection only
    // (id/group/score — text never materializes), the same
    // share-one-scan rule as the basket family's localCheckpoint.
    val s = scored.localCheckpoint()
    val counts = s.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as("n"))
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col(groupCol))
    val ranks = counts
      .withColumn("smaller", coalesce(sum(col("n")).over(wCum), lit(0L)))
      .withColumn("n_group", sum(col("n")).over(wAll))
      .select(col(groupCol), col(scoreCol),
        when(col("n_group") === 1, lit(0.0))
          .otherwise(GraftQuery.duckRound(col("smaller").cast("double") /
            (col("n_group") - 1), 8)).as("pct_rank"))
    s.join(ranks, Seq(groupCol, scoreCol))
  }

  // ---- queries -------------------------------------------------------------

  /** q79: quality scores (the q22 metric) quantile-normalized within each
    * source; the oracle recomputes the score AND uses DuckDB's own
    * percent_rank() window — an independent cross-check of the
    * count-table reformulation.
    */
  val qQuantileNorm = GraftQuery(
    "q79_quantile_norm",
    (s, dir) => {
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
      quantileNormalize(scored, "source", "quality")
        .select(col("doc_id"), col("source"), col("quality"), col("pct_rank"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, source,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS n_tok,
               CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                    w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE) AS n_stop
        FROM documents),
      m AS (
        SELECT doc_id, source,
               CASE WHEN n_tok > 0 THEN (n_chars - (n_tok - 1)) / n_tok ELSE 0.0 END AS avg_tok_len,
               CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END AS stop_ratio,
               n_chars
        FROM t),
      q AS (
        SELECT doc_id, source,
               least(n_chars / 500.0, 1.0) * 0.4
             + (CASE WHEN avg_tok_len >= 3 AND avg_tok_len <= 10 THEN 1.0 ELSE 0.5 END) * 0.3
             + (CASE WHEN stop_ratio > 0.01 AND stop_ratio < 0.5 THEN 1.0 ELSE 0.5 END) * 0.3
               AS quality
        FROM m)
      SELECT doc_id, source, quality,
             round(percent_rank() OVER (PARTITION BY source ORDER BY quality), 8)
               AS pct_rank
      FROM q ORDER BY doc_id"""))

  val queries: Seq[GraftQuery] = Seq(qQuantileNorm)
}
