package graft.text

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The corpus card: one wide summary row per source — doc/token/char
  * volume, exact-duplicate rate, mean quality, English share, length
  * percentiles — the at-a-glance table every dataset release ships.
  * Composes the engine's own signal definitions (q20 dedup, q22
  * quality, q23 language-ID), so the card provably agrees with the
  * detailed per-operator reports.
  *
  * Scale shape: one narrow signal projection over the corpus; one
  * (source) aggregate for the volume/quality columns; the dup rate
  * joins the q20-style content winners back as a slim (hash, winner)
  * table; the length median is the exact discrete rank over the
  * (source, n_tok) COUNT table (values domain-bounded by doc length).
  * Quality means accumulate as round-6dp DECIMAL (the q92 idiom).
  */
object CorpusCard {

  def corpusCard(docs: DataFrame): DataFrame = {
    // tokenize ONCE and derive every signal from the shared token array
    // (each TextAnalysis.<signal>(text) helper re-splits internally —
    // scoring them independently costs ~6 regex passes per doc,
    // measured 2.6 s -> 0.9 s at sf0.1 for this single staging change)
    val toksed = docs.select(
      col("source"), col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      (length(trim(col("text"))) === 0).as("is_blank"),
      TextAnalysis.tokens(col("text")).as("toks"),
      md5(col("text")).as("text_hash"))
    val scored = toksed.select(
      Seq(col("source"), col("doc_id"), col("n_chars"), col("text_hash"),
        when(col("is_blank"), 0L).otherwise(size(col("toks")).cast("long"))
          .as("n_tok"),
        TextExprs.tokenSetCount(col("toks"), TextAnalysis.Stopwords)
          .cast("double").as("n_stop")) ++
        TextAnalysis.LangMarkers.map { case (l, words) =>
          TextExprs.tokenSetCount(col("toks"), words).as(s"score_$l")
        }: _*)
    val avgTokLen = when(col("n_tok") > 0,
      (col("n_chars").cast("double") - (col("n_tok") - 1)) / col("n_tok"))
      .otherwise(lit(0.0))
    val stopRatio = when(col("n_tok") > 0,
      col("n_stop") / col("n_tok")).otherwise(lit(0.0))
    val quality =
      least(col("n_chars").cast("double") / 500.0, lit(1.0)) * 0.4 +
        when(avgTokLen >= 3 && avgTokLen <= 10, lit(1.0)).otherwise(lit(0.5)) * 0.3 +
        when(stopRatio > 0.01 && stopRatio < 0.5, lit(1.0)).otherwise(lit(0.5)) * 0.3
    val staged = scored.select(
      col("source"), col("doc_id"), col("n_chars"), col("n_tok"),
      quality.as("quality"),
      TextAnalysis.languageIdFromScores(
        TextAnalysis.LangMarkers.map { case (l, _) => l -> col(s"score_$l") })
        .as("pred_lang"),
      col("text_hash"))
    val winners = staged.groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("winner"))
    val flagged = staged.join(winners, Seq("text_hash"))
      .withColumn("is_dup", col("doc_id") =!= col("winner"))
    val volume = flagged.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("n_tokens"),
      sum(col("n_chars")).as("n_chars"),
      sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"),
      (sum(GraftQuery.duckRound(col("quality"), 6).cast("decimal(28,6)")).cast("double") /
        count(lit(1))).as("mean_quality"),
      sum(when(col("pred_lang") === "en", 1L).otherwise(0L)).as("n_english"))
    // exact discrete median doc length per source over the count table
    val lenCounts = staged.groupBy(col("source"), col("n_tok").as("v"))
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val medLen = lenCounts.withColumn("cum", sum(col("c")).over(w))
      .join(lenCounts.groupBy(col("source")).agg(sum(col("c")).as("n")),
        Seq("source"))
      .filter(col("cum") >= ceil(lit(BigDecimal("0.5")) * col("n")))
      .groupBy(col("source")).agg(min(col("v")).as("median_tok"))
    volume.join(medLen, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        GraftQuery.duckRound(col("n_dups").cast("double") / col("n_docs").cast("double"), 6)
          .as("dup_rate"),
        GraftQuery.duckRound(col("mean_quality"), 6).as("mean_quality"),
        GraftQuery.duckRound(col("n_english").cast("double") / col("n_docs").cast("double"), 6)
          .as("english_share"),
        col("median_tok"))
      .orderBy(col("source"))
  }

  // ---- queries -------------------------------------------------------------

  val qCorpusCard = GraftQuery(
    "q179_corpus_card",
    (s, dir) => corpusCard(Tables.documents(s, dir)),
    // signal fragments shared with the q22/q23 oracles
    Some(raw"""
      WITH t AS (
        SELECT source, doc_id, md5(text) AS text_hash,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END
                 AS BIGINT) AS n_tok,
               CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                    w -> w IN ('the','a','an','and','or','of','to','in','is','it')))
                 AS DOUBLE) AS n_stop,
               len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                    w -> w IN ('the','and','of','to','is'))) AS score_en,
               len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                    w -> w IN ('der','die','das','und','ist'))) AS score_de,
               len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                    w -> w IN ('el','la','los','que','es'))) AS score_es,
               len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                    w -> w IN ('le','la','les','et','est'))) AS score_fr,
               len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                    w -> w IN ('de','shi','bu','le','wo'))) AS score_zh
        FROM documents),
      m AS (
        SELECT source, doc_id, text_hash, n_chars, n_tok,
               least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
                 + (CASE WHEN (CASE WHEN n_tok > 0
                       THEN (n_chars - (n_tok - 1)) / CAST(n_tok AS DOUBLE)
                       ELSE 0.0 END) >= 3
                     AND (CASE WHEN n_tok > 0
                       THEN (n_chars - (n_tok - 1)) / CAST(n_tok AS DOUBLE)
                       ELSE 0.0 END) <= 10
                    THEN 1.0 ELSE 0.5 END) * 0.3
                 + (CASE WHEN (CASE WHEN n_tok > 0
                       THEN n_stop / n_tok ELSE 0.0 END) > 0.01
                     AND (CASE WHEN n_tok > 0
                       THEN n_stop / n_tok ELSE 0.0 END) < 0.5
                    THEN 1.0 ELSE 0.5 END) * 0.3 AS quality,
               CASE WHEN greatest(score_en, score_de, score_es, score_fr,
                                  score_zh) <= 0 THEN 'und'
                    WHEN score_en = greatest(score_en, score_de, score_es,
                                  score_fr, score_zh) THEN 'en'
                    WHEN score_de = greatest(score_en, score_de, score_es,
                                  score_fr, score_zh) THEN 'de'
                    WHEN score_es = greatest(score_en, score_de, score_es,
                                  score_fr, score_zh) THEN 'es'
                    WHEN score_fr = greatest(score_en, score_de, score_es,
                                  score_fr, score_zh) THEN 'fr'
                    ELSE 'zh' END AS pred_lang
        FROM t),
      winners AS (SELECT text_hash, min(doc_id) AS winner FROM m
                  GROUP BY text_hash),
      flagged AS (
        SELECT m.*, m.doc_id <> w.winner AS is_dup
        FROM m JOIN winners w USING (text_hash)),
      volume AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dups,
               CAST(sum(CAST(round(quality, 6) AS DECIMAL(28,6))) AS DOUBLE)
                 / count(*) AS mean_quality,
               CAST(sum(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_english
        FROM flagged GROUP BY source),
      len_counts AS (
        SELECT source, n_tok AS v, count(*) AS c FROM m
        GROUP BY source, n_tok),
      med AS (
        SELECT source, min(v) AS median_tok FROM (
          SELECT source, v,
                 sum(c) OVER (PARTITION BY source ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 sum(c) OVER (PARTITION BY source) AS n
          FROM len_counts)
        WHERE cum >= ceil(0.5 * n) GROUP BY source)
      SELECT v.source, v.n_docs, v.n_tokens, v.n_chars,
             round(CAST(v.n_dups AS DOUBLE) / v.n_docs, 6) AS dup_rate,
             round(v.mean_quality, 6) AS mean_quality,
             round(CAST(v.n_english AS DOUBLE) / v.n_docs, 6)
               AS english_share,
             med.median_tok
      FROM volume v JOIN med USING (source)
      ORDER BY source"""))

  val queries: Seq[GraftQuery] = Seq(qCorpusCard)
}
