package graft.text

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Token-budget corpus selection: per source, keep the highest-quality
  * documents whose total token mass fits a budget — the "fill N tokens
  * of training data from each source, best first" assembly step.
  *
  * Scale shape — the q116 cardinality rule: a per-source window over raw
  * documents would funnel the whole corpus through O(sources) tasks, so
  * selection happens at QUALITY-BUCKET granularity instead (quality
  * rounded to 3dp → ≤1001 buckets/source): one (source, bucket)
  * aggregate, a cumulative window over the bucket table, and the kept
  * buckets broadcast back — the hierarchical prefix-sum idiom of
  * q66-q68. A bucket is kept iff the cumulative token mass from the top
  * INCLUDING it fits the budget, so the realized mass never overshoots;
  * the boundary bucket is dropped whole (budget granularity = one
  * quality bucket, documented approximation).
  */
object CorpusBudget {

  /** Per-source selection summary: (source, budget_tok, n_kept,
    * tok_kept, cutoff_quality) — cutoff_quality is the lowest kept
    * bucket (null when even the best bucket alone exceeds the budget).
    */
  def budgetSelection(docs: DataFrame, budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 1, s"budget must be >= 1, got $budgetTokens")
    val scored = docs.select(
      col("source"),
      GraftQuery.duckRound(TextAnalysis.qualityScore(col("text")), 3).as("qb"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
    val buckets = scored.groupBy(col("source"), col("qb"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("qb").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    buckets
      .withColumn("cum_tok", sum(col("tok")).over(w))
      .filter(col("cum_tok") <= budgetTokens)
      .groupBy(col("source"))
      .agg(
        sum(col("n_docs")).as("n_kept"),
        sum(col("tok")).as("tok_kept"),
        min(col("qb")).as("cutoff_quality"))
      .join(scored.select(col("source")).distinct(), Seq("source"), "right")
      .select(col("source"), lit(budgetTokens).as("budget_tok"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("tok_kept"), lit(0L)).as("tok_kept"),
        col("cutoff_quality"))
      .orderBy(col("source"))
  }

  /** The kept documents themselves: broadcast the per-source cutoff back
    * onto the corpus — a narrow filter, no corpus shuffle.
    */
  def selectWithinBudget(docs: DataFrame, budgetTokens: Long): DataFrame = {
    val cutoffs = budgetSelection(docs, budgetTokens)
      .filter(col("cutoff_quality").isNotNull)
      .select(col("source"), col("cutoff_quality"))
    docs
      .join(broadcast(cutoffs), Seq("source"))
      .filter(GraftQuery.duckRound(TextAnalysis.qualityScore(col("text")), 3) >=
        col("cutoff_quality"))
      .select(col("source"), col("doc_id"))
  }

  // ---- queries -------------------------------------------------------------

  val qBudget = GraftQuery(
    "q168_token_budget",
    (s, dir) => budgetSelection(Tables.documents(s, dir), budgetTokens = 200000),
    // quality transliteration shared with the q22 oracle
    Some("""
      WITH t AS (
        SELECT source,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END
                 AS DOUBLE) AS n_tok,
               CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                    w -> w IN ('the','a','an','and','or','of','to','in','is','it')))
                 AS DOUBLE) AS n_stop
        FROM documents),
      m AS (
        SELECT source, n_chars, n_tok,
               CASE WHEN n_tok > 0 THEN (n_chars - (n_tok - 1)) / n_tok
                    ELSE 0.0 END AS avg_tok_len,
               CASE WHEN n_tok > 0 THEN n_stop / n_tok
                    ELSE 0.0 END AS stop_ratio
        FROM t),
      scored AS (
        SELECT source,
               round(least(n_chars / 500.0, 1.0) * 0.4
                 + (CASE WHEN avg_tok_len >= 3 AND avg_tok_len <= 10
                    THEN 1.0 ELSE 0.5 END) * 0.3
                 + (CASE WHEN stop_ratio > 0.01 AND stop_ratio < 0.5
                    THEN 1.0 ELSE 0.5 END) * 0.3, 3) AS qb,
               CAST(n_tok AS BIGINT) AS n_tok
        FROM m),
      buckets AS (
        SELECT source, qb, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS tok
        FROM scored GROUP BY source, qb),
      cum AS (
        SELECT source, qb, n_docs, tok,
               sum(tok) OVER (PARTITION BY source ORDER BY qb DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
        FROM buckets),
      kept AS (
        SELECT source, CAST(sum(n_docs) AS BIGINT) AS n_kept,
               CAST(sum(tok) AS BIGINT) AS tok_kept,
               min(qb) AS cutoff_quality
        FROM cum WHERE cum_tok <= 200000 GROUP BY source)
      SELECT s.source, CAST(200000 AS BIGINT) AS budget_tok,
             coalesce(k.n_kept, 0) AS n_kept,
             coalesce(k.tok_kept, 0) AS tok_kept,
             k.cutoff_quality
      FROM (SELECT DISTINCT source FROM documents) s
      LEFT JOIN kept k USING (source)
      ORDER BY source"""))

  val queries: Seq[GraftQuery] = Seq(qBudget)
}
