package graft.text

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cluster topic labeling: the top TF-IDF terms per embedding-space label —
  * the "what is this cluster about" summary every corpus-organization
  * pipeline ends with after clustering/classification.
  *
  * Granularity is label-as-document: term frequency is counted within a
  * label's pooled text, document frequency is the number of LABELS
  * containing the term, idf = ln(nLabels/df). That keeps every aggregate
  * O(labels × vocabulary) — nothing per-row survives the first reduce, and
  * the only window is partitioned by label over its vocabulary slice, cut
  * to top-k via WindowGroupLimit.
  */
object Topics {

  /** Top-k TF-IDF terms per label: (label, rnk, term, tf, df, score). */
  def labelTopics(documents: DataFrame, embeddings: DataFrame,
                  k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val dl = documents.select(col("doc_id"), col("text"))
      .join(embeddings.select(col("vec_id"), col("label")),
        col("doc_id") === col("vec_id"))
    val terms = dl.select(col("label"),
      explode(TextAnalysis.tokens(col("text"))).as("term"))
    val tf = terms.groupBy(col("label"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df")) // tf rows are distinct (label, term)
    val nl = dl.agg(count_distinct(col("label")).as("n"))
    val scored = tf.join(df, Seq("term")).crossJoin(broadcast(nl))
      .withColumn("score", col("tf") * log(col("n").cast("double") / col("df")))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("label"))
          .orderBy(col("score").desc, col("term"))))
      .filter(col("rnk") <= k)
      .select(col("label"), col("rnk"), col("term"), col("tf"), col("df"),
        GraftQuery.duckRound(col("score"), 6).as("score"))
      .orderBy(col("label"), col("rnk"))
  }

  // ---- queries -------------------------------------------------------------

  val qLabelTopics = GraftQuery(
    "q156_label_topics",
    (s, dir) => labelTopics(Tables.documents(s, dir), Tables.embeddings(s, dir), k = 5),
    Some("""
      WITH dl AS (
        SELECT e.label, d.text
        FROM documents d JOIN (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) e ON d.doc_id = e.vec_id),
      terms AS (
        SELECT label, unnest(string_split_regex(trim(text), '\s+')) AS term
        FROM dl),
      tf AS (SELECT label, term, count(*) AS tf FROM terms GROUP BY 1, 2),
      df AS (
        SELECT term, count(*) AS df
        FROM (SELECT DISTINCT label, term FROM terms) GROUP BY 1),
      nl AS (SELECT count(DISTINCT label) AS n FROM dl),
      scored AS (
        SELECT t.label, t.term, t.tf, d.df,
               t.tf * ln(CAST(nl.n AS DOUBLE) / d.df) AS score
        FROM tf t JOIN df d USING (term), nl),
      ranked AS (
        SELECT label, term, tf, df, score,
               row_number() OVER (PARTITION BY label
                                  ORDER BY score DESC, term) AS rnk
        FROM scored)
      SELECT label, rnk, term, CAST(tf AS BIGINT) AS tf,
             CAST(df AS BIGINT) AS df, round(score, 6) AS score
      FROM ranked WHERE rnk <= 5
      ORDER BY label, rnk"""))

  val queries: Seq[GraftQuery] = Seq(qLabelTopics)
}
