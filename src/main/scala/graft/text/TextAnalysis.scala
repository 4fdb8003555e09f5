package graft.text

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization stats, quality scoring, language ID, fingerprinting.
  *
  * Everything is built from codegen'd `org.apache.spark.sql.functions`
  * column expressions — no UDFs, no driver-side loops — so each operator is
  * a narrow per-row map that scales linearly and keeps whole-stage codegen
  * intact. All arithmetic is integer / deterministic-double so results are
  * reproducible across partitionings (and against the DuckDB oracle).
  */
object TextAnalysis {

  /** Whitespace tokenizer over trimmed text (split never yields trailing
    * empties on trimmed input).
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(size(tokens(text)))

  /** Stopword list used by quality scoring; intentionally small + fixed. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  def stopwordCount(text: Column): Column =
    TextExprs.tokenSetCount(tokens(text), Stopwords)

  /** Deterministic quality score in [0,1]: blend of length saturation,
    * mean token length band, and stopword presence — the shape of the
    * heuristics used by open-source corpus filters (C4/Gopher rules),
    * reduced to exactly reproducible arithmetic.
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val nChars = length(text).cast("double")
    val avgTokLen = when(nTok > 0, (nChars - (nTok - 1)) / nTok).otherwise(lit(0.0))
    val stopRatio = when(nTok > 0, stopwordCount(text).cast("double") / nTok).otherwise(lit(0.0))
    val lenScore = least(nChars / lit(500.0), lit(1.0))
    val tokLenScore = when(avgTokLen >= 3 && avgTokLen <= 10, lit(1.0)).otherwise(lit(0.5))
    val stopScore = when(stopRatio > 0.01 && stopRatio < 0.5, lit(1.0)).otherwise(lit(0.5))
    lenScore * lit(0.4) + tokLenScore * lit(0.3) + stopScore * lit(0.3)
  }

  /** Marker-word sets per language for the n-gram/stopword language-ID
    * heuristic. Deterministic argmax with fixed priority order en>de>es>fr>zh.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "que", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo"))

  def langScores(text: Column): Seq[(String, Column)] =
    LangMarkers.map { case (lang, words) =>
      lang -> TextExprs.tokenSetCount(tokens(text), words)
    }

  /** Argmax over already-computed score columns — lets a query materialize
    * the scores once and derive the prediction from them instead of
    * re-scanning the text per language.
    */
  def languageIdFromScores(scores: Seq[(String, Column)]): Column = {
    val best = greatest(scores.map(_._2): _*)
    // fixed priority: first language reaching the max wins; 'und' if no hits
    when(best <= 0, lit("und"))
      .otherwise(
        scores.reverse.foldLeft(lit("und")) { case (acc, (lang, sc)) =>
          when(sc === best, lit(lang)).otherwise(acc)
        })
  }

  def languageId(text: Column): Column = languageIdFromScores(langScores(text))

  /** Polynomial rolling-hash document fingerprint over characters:
    * h = Σ (h*31 + ascii(c)) mod 1e9+7 — bounded int64 arithmetic, exactly
    * reproducible in ANSI SQL (list_reduce in DuckDB).
    */
  def fingerprint(text: Column): Column =
    TextExprs.fingerprintHash(text)

  // ---- query wrappers over the `documents` table -------------------------

  // Query-plan shape for the per-document scans below: ORDER BY first on the
  // narrow scan, THEN the expensive projections, staged so each intermediate
  // (token array, counts) is computed once. Two reasons, both measured 2-3×:
  //  - a global sort range-partitions by SAMPLING its child — any projection
  //    below the exchange executes twice; above it, the sample reads only
  //    the scan;
  //  - one giant inlined expression tree re-evaluates split()/counts per
  //    reference (when-branches defeat subexpression elimination), while
  //    staged projections survive optimization because CollapseProject
  //    refuses to duplicate non-cheap expressions.

  val qTokenStats = GraftQuery(
    "q21_token_stats",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
        .select(col("doc_id"),
          length(col("text")).as("n_chars_actual"),
          (length(trim(col("text"))) === 0).as("is_blank"),
          tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("n_chars_actual"),
          when(col("is_blank"), 0).otherwise(size(col("toks"))).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_unique_tokens"),
          TextExprs.tokenSetCount(col("toks"), Stopwords).as("n_stopwords")),
    Some("""
      SELECT doc_id,
             length(text) AS n_chars_actual,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
             len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS n_unique_tokens,
             len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                 w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS n_stopwords
      FROM documents
      ORDER BY doc_id"""))

  val qQuality = GraftQuery(
    "q22_quality_score",
    (s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
        .select(col("doc_id"),
          length(col("text")).cast("double").as("n_chars"),
          tokenCount(col("text")).cast("double").as("n_tok"),
          stopwordCount(col("text")).cast("double").as("n_stop"))
      val avgTokLen = when(col("n_tok") > 0,
        (col("n_chars") - (col("n_tok") - 1)) / col("n_tok")).otherwise(lit(0.0))
      val stopRatio = when(col("n_tok") > 0,
        col("n_stop") / col("n_tok")).otherwise(lit(0.0))
      base.select(col("doc_id"),
        (least(col("n_chars") / 500.0, lit(1.0)) * 0.4
          + when(avgTokLen >= 3 && avgTokLen <= 10, lit(1.0)).otherwise(lit(0.5)) * 0.3
          + when(stopRatio > 0.01 && stopRatio < 0.5, lit(1.0)).otherwise(lit(0.5)) * 0.3)
          .as("quality"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS n_tok,
               CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                    w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE) AS n_stop
        FROM documents),
      m AS (
        SELECT doc_id, n_chars, n_tok,
               CASE WHEN n_tok > 0 THEN (n_chars - (n_tok - 1)) / n_tok ELSE 0.0 END AS avg_tok_len,
               CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END AS stop_ratio
        FROM t)
      SELECT doc_id,
             least(n_chars / 500.0, 1.0) * 0.4
           + (CASE WHEN avg_tok_len >= 3 AND avg_tok_len <= 10 THEN 1.0 ELSE 0.5 END) * 0.3
           + (CASE WHEN stop_ratio > 0.01 AND stop_ratio < 0.5 THEN 1.0 ELSE 0.5 END) * 0.3 AS quality
      FROM m
      ORDER BY doc_id"""))

  val qLangId = GraftQuery(
    "q23_language_id",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      // tokenize once; score each language from the shared token array;
      // predict from the materialized score columns
      val scored = d
        .select(col("doc_id"), col("lang"), col("text"))
        .orderBy(col("doc_id"))
        .select(
          (Seq(col("doc_id"), col("lang")) :+ tokens(col("text")).as("toks")): _*)
        .select(
          (Seq(col("doc_id"), col("lang")) ++
            LangMarkers.map { case (l, words) =>
              TextExprs.tokenSetCount(col("toks"), words).as(s"score_$l")
            }): _*)
      val fromScores = languageIdFromScores(
        LangMarkers.map { case (l, _) => l -> col(s"score_$l") })
      scored.select(
        (Seq(col("doc_id"), col("lang").as("labeled_lang"),
          fromScores.as("predicted_lang")) ++
          TextAnalysis.LangMarkers.map { case (l, _) => col(s"score_$l") }): _*)
    },
    Some("""
      WITH s AS (
        SELECT doc_id, lang AS labeled_lang,
          len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w IN ('the','and','of','to','is'))) AS score_en,
          len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w IN ('der','die','das','und','ist'))) AS score_de,
          len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w IN ('el','la','los','que','es'))) AS score_es,
          len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w IN ('le','la','les','et','est'))) AS score_fr,
          len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w IN ('de','shi','bu','le','wo'))) AS score_zh
        FROM documents)
      SELECT doc_id, labeled_lang,
        CASE WHEN greatest(score_en, score_de, score_es, score_fr, score_zh) <= 0 THEN 'und'
             WHEN score_en = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'en'
             WHEN score_de = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'de'
             WHEN score_es = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'es'
             WHEN score_fr = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'fr'
             ELSE 'zh' END AS predicted_lang,
        score_en, score_de, score_es, score_fr, score_zh
      FROM s
      ORDER BY doc_id"""))

  val qFingerprint = GraftQuery(
    "q24_fingerprint",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
        .select(col("doc_id"), fingerprint(col("text")).as("fp")),
    Some("""
      SELECT doc_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
      FROM documents
      ORDER BY doc_id"""))

  /** q53: the composed training-data curation pipeline — the realistic
    * end-to-end shape these operators exist for: predict language, score
    * quality, keep English docs above threshold, exact-dedup (keep the
    * minimum doc_id per content hash), and emit the curated set with its
    * token budget. Every stage is oracle-expressible (md5 dedup rather
    * than MinHash), so the WHOLE pipeline is hash-checked end-to-end.
    * Tokenizes once (staged projection), filters before the dedup window
    * so the shuffle carries only surviving docs.
    */
  /** The curation pipeline over any (doc_id, source, text) frame —
    * qCuration is this applied to the documents table; the spec applies
    * it to a hand-computed fixture, so both exercise the SAME plan.
    */
  def curate(docs: DataFrame, minQuality: Double = 0.7,
             keepLang: String = "en"): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val staged = docs
        .select(col("doc_id"), col("source"), col("text"))
        .select(col("doc_id"), col("source"),
          length(col("text")).cast("double").as("n_chars"),
          (length(trim(col("text"))) === 0).as("is_blank"),
          tokens(col("text")).as("toks"),
          md5(col("text")).as("text_hash"))
        .select(
          Seq(col("doc_id"), col("source"), col("n_chars"), col("text_hash"),
            when(col("is_blank"), 0).otherwise(size(col("toks")))
              .cast("double").as("n_tok"),
            TextExprs.tokenSetCount(col("toks"), Stopwords)
              .cast("double").as("n_stop")) ++
            LangMarkers.map { case (l, words) =>
              TextExprs.tokenSetCount(col("toks"), words).as(s"score_$l")
            }: _*)
      val avgTokLen = when(col("n_tok") > 0,
        (col("n_chars") - (col("n_tok") - 1)) / col("n_tok")).otherwise(lit(0.0))
      val stopRatio = when(col("n_tok") > 0,
        col("n_stop") / col("n_tok")).otherwise(lit(0.0))
      val quality =
        least(col("n_chars") / 500.0, lit(1.0)) * 0.4 +
          when(avgTokLen >= 3 && avgTokLen <= 10, lit(1.0)).otherwise(lit(0.5)) * 0.3 +
          when(stopRatio > 0.01 && stopRatio < 0.5, lit(1.0)).otherwise(lit(0.5)) * 0.3
      val predLang = languageIdFromScores(
        LangMarkers.map { case (l, _) => l -> col(s"score_$l") })
      val w = Window.partitionBy(col("text_hash")).orderBy(col("doc_id"))
      staged
        .select(col("doc_id"), col("source"), col("text_hash"),
          col("n_tok"), quality.as("quality"), predLang.as("pred_lang"))
        .filter(col("pred_lang") === keepLang && col("quality") >= minQuality)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("source"), col("quality"),
          col("n_tok").cast("int").as("n_tokens"))
        .orderBy(col("doc_id"))
  }

  val qCuration = GraftQuery(
    "q53_corpus_curation",
    (s, dir) => curate(Tables.documents(s, dir)),
    Some("""
      WITH t AS (
        SELECT doc_id, source, md5(text) AS text_hash,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS n_tok,
               CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                    w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE) AS n_stop,
               len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w IN ('the','and','of','to','is'))) AS score_en,
               len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w IN ('der','die','das','und','ist'))) AS score_de,
               len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w IN ('el','la','los','que','es'))) AS score_es,
               len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w IN ('le','la','les','et','est'))) AS score_fr,
               len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w IN ('de','shi','bu','le','wo'))) AS score_zh
        FROM documents),
      m AS (
        SELECT *,
               CASE WHEN n_tok > 0 THEN (n_chars - (n_tok - 1)) / n_tok ELSE 0.0 END AS avg_tok_len,
               CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END AS stop_ratio
        FROM t),
      q AS (
        SELECT doc_id, source, text_hash, n_tok,
               least(n_chars / 500.0, 1.0) * 0.4
             + (CASE WHEN avg_tok_len >= 3 AND avg_tok_len <= 10 THEN 1.0 ELSE 0.5 END) * 0.3
             + (CASE WHEN stop_ratio > 0.01 AND stop_ratio < 0.5 THEN 1.0 ELSE 0.5 END) * 0.3 AS quality,
               CASE WHEN greatest(score_en, score_de, score_es, score_fr, score_zh) <= 0 THEN 'und'
                    WHEN score_en = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'en'
                    WHEN score_de = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'de'
                    WHEN score_es = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'es'
                    WHEN score_fr = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'fr'
                    ELSE 'zh' END AS pred_lang
        FROM m),
      f AS (
        SELECT *, row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
        FROM q
        WHERE pred_lang = 'en' AND quality >= 0.7)
      SELECT doc_id, source, quality, CAST(n_tok AS INTEGER) AS n_tokens
      FROM f
      WHERE rn = 1
      ORDER BY doc_id"""))

  /** q131: the language-ID EVALUATION — confusion cells (labeled ×
    * predicted) with each cell's share of its labeled row, i.e. the
    * per-language recall diagonal a model card reports. Reuses the q23
    * scorer verbatim; the extra work over q23 is one O(langs²) aggregate,
    * so the whole evaluation costs one corpus scan.
    */
  val qLangConfusion = GraftQuery(
    "q131_langid_confusion",
    (s, dir) => {
      val scored = Tables.documents(s, dir)
        .select(
          (Seq(col("lang"), tokens(col("text")).as("toks")): Seq[Column]): _*)
        .select(
          (Seq(col("lang")) ++
            LangMarkers.map { case (l, words) =>
              TextExprs.tokenSetCount(col("toks"), words).as(s"score_$l")
            }): _*)
      val predicted = languageIdFromScores(
        LangMarkers.map { case (l, _) => l -> col(s"score_$l") })
      val cells = scored
        .select(col("lang").as("labeled_lang"), predicted.as("predicted_lang"))
        .groupBy(col("labeled_lang"), col("predicted_lang"))
        .agg(count(lit(1)).as("n"))
      val totals = cells.groupBy(col("labeled_lang")).agg(sum(col("n")).as("t"))
      cells.join(totals, Seq("labeled_lang"))
        .select(col("labeled_lang"), col("predicted_lang"), col("n"),
          (col("n").cast("double") / col("t").cast("double")).as("share"))
        .orderBy(col("labeled_lang"), col("predicted_lang"))
    },
    Some("""
      WITH s AS (
        SELECT lang AS labeled_lang,
          len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w IN ('the','and','of','to','is'))) AS score_en,
          len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w IN ('der','die','das','und','ist'))) AS score_de,
          len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w IN ('el','la','los','que','es'))) AS score_es,
          len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w IN ('le','la','les','et','est'))) AS score_fr,
          len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w IN ('de','shi','bu','le','wo'))) AS score_zh
        FROM documents),
      p AS (
        SELECT labeled_lang,
          CASE WHEN greatest(score_en, score_de, score_es, score_fr, score_zh) <= 0 THEN 'und'
               WHEN score_en = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'en'
               WHEN score_de = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'de'
               WHEN score_es = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'es'
               WHEN score_fr = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'fr'
               ELSE 'zh' END AS predicted_lang
        FROM s),
      cells AS (
        SELECT labeled_lang, predicted_lang, count(*) AS n
        FROM p GROUP BY labeled_lang, predicted_lang),
      tot AS (SELECT labeled_lang, sum(n) AS t FROM cells GROUP BY labeled_lang)
      SELECT c.labeled_lang, c.predicted_lang, CAST(c.n AS BIGINT) AS n,
             CAST(c.n AS DOUBLE) / CAST(t.t AS DOUBLE) AS share
      FROM cells c JOIN tot t USING (labeled_lang)
      ORDER BY c.labeled_lang, c.predicted_lang"""))

  val queries: Seq[GraftQuery] =
    Seq(qTokenStats, qQuality, qLangId, qFingerprint, qCuration, qLangConfusion)
}
