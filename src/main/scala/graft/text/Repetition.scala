package graft.text

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Within-document repetition signals and corpus-level most-common-token
  * removal — the two repetition-side curation passes from large-scale LM
  * data pipelines (Gopher's repetition rules, Rae et al. 2021 §A1.2; C4's
  * most-common-lines removal, Raffel et al. 2020 §2.2). The reference has
  * no analog (bike telemetry doesn't need them); these extend the engine's
  * LLM-pipeline surface next to the dedup family in [[TextDedup]].
  *
  * At 100 TB:
  *  - the per-doc signals are one narrow projection (token/n-gram arrays
  *    never leave their partition) plus one O(tokens) shuffle keyed by
  *    (doc_id, bigram) for the top-bigram count — no pair blow-up, no
  *    driver involvement;
  *  - stoplist removal aggregates document frequency (O(distinct tokens)
  *    shuffle of (token, count) scalars), collects exactly `k` rows — a
  *    CONSTANT bound, independent of corpus size — and cleans with a pure
  *    narrow array filter against the k-element literal; the text itself
  *    is never shuffled.
  */
object Repetition {

  /** Token n-gram strings (n >= 2) as a narrow array expression. Guarded:
    * Spark's `sequence(0, len-n)` with len < n would generate a DESCENDING
    * sequence (step defaults to -1), so short docs explicitly yield an
    * empty array — matching DuckDB, whose `generate_series(1, len-n+1)`
    * is empty when the stop is below the start.
    */
  private def ngrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Per-document repetition signals: duplicated-token/-bigram/-trigram
    * fractions (1 − distinct/total) and the most-frequent-bigram share.
    * High values flag boilerplate and degenerate generations — Gopher
    * drops docs above thresholds on exactly these statistics.
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    // no early orderBy here (unlike the TextAnalysis staging pattern): the
    // final sort runs above the join anyway, and an inner sort would leak a
    // wasted range-exchange into the exploded top-bigram branch
    //
    // One narrow repartition of (doc_id, toks) feeds BOTH branches: its
    // doc_id key satisfies every downstream clustering — the (doc, bg)
    // aggregate, the per-doc rollup, and the signals join — so the whole
    // query runs on this single reused exchange plus the declared output
    // sort. Without it the CPU-dense in-row n-gram work (an interpreted
    // higher-order `transform` per doc) runs inside the scan stage, which
    // is ONE task on a single-row-group bench file (measured 2×0.5-0.7 s
    // single-task stages at sf0.1); the shuffled payload is the token
    // array — lighter than the exploded (doc_id, bigram) rows the old
    // plan pushed through its aggregate exchange.
    val toksDf = Tables.spread(
      docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks")),
      col("doc_id"))
    val base = toksDf.select(col("doc_id"), col("toks"),
      ngrams(col("toks"), 3).as("trigrams"))
    // bigram stats: the one wide aggregation — O(tokens) rows of (doc_id,
    // bigram) scalars, combined map-side by the partial aggregate. It
    // yields the top-bigram count AND the distinct-bigram count (count of
    // (doc, bg) groups), so the bigram ARRAY is never materialized in-row:
    // total bigrams is just n_tokens − 1 and the duplicated fraction
    // derives from the same aggregate — one interpreted transform + one
    // array_distinct per doc gone for identical output.
    // Explode token POSITIONS and build each bigram with one element_at
    // lookahead: exploding a pre-built bigrams array inlines the array
    // definition into Generate/Filter, and every element evaluation then
    // re-runs split(trim(text)) — O(tokens²·len) per doc (measured 12.5 s
    // vs 0.6 s at sf0.1).
    val bgStats = toksDf
      .select(col("doc_id"), col("toks"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      .filter(col("pos") + 1 < size(col("toks")))
      .select(col("doc_id"),
        concat_ws(" ", col("tok"), element_at(col("toks"), col("pos") + 2)).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id")).agg(max(col("cnt")).as("top_cnt"),
        count(lit(1)).as("n_distinct_bg"))
    def dupFrac(arr: Column): Column =
      when(size(arr) > 0, lit(1.0) - size(array_distinct(arr)) / size(arr))
        .otherwise(lit(0.0))
    val nBigrams = size(col("toks")) - 1
    base.join(bgStats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        dupFrac(col("toks")).as("dup_token_frac"),
        when(size(col("toks")) >= 2,
          lit(1.0) - col("n_distinct_bg") / nBigrams)
          .otherwise(lit(0.0)).as("dup_bigram_frac"),
        dupFrac(col("trigrams")).as("dup_trigram_frac"),
        when(size(col("toks")) >= 2,
          coalesce(col("top_cnt"), lit(0L)) / nBigrams)
          .otherwise(lit(0.0)).as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  /** Remove the corpus's `k` most-document-frequent tokens from every doc
    * (ties broken lexicographically so the stoplist is deterministic).
    * Returns (doc_id, clean_text, n_removed). The C4 move, token-shaped:
    * pathologically common content is boilerplate, not signal.
    *
    * The driver-side collect is bounded by the constant `k` (LIMIT k runs
    * distributed as TakeOrdered) — this is the scale-CORRECT shape: a
    * k-element literal in a narrow `filter` beats re-shuffling O(tokens)
    * exploded rows through an anti-join and re-assembling every document.
    */
  def removeTopTokens(docs: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 1, s"removeTopTokens k must be >= 1, got $k")
    val toksDf = docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val stop: Array[String] = toksDf
      .select(explode(array_distinct(col("toks"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("nd"))
      .orderBy(col("nd").desc, col("tok"))
      .limit(k)
      .select(col("tok"))
      .collect().map(_.getString(0))
    toksDf
      .select(col("doc_id"), col("toks"),
        filter(col("toks"), t => !t.isin(stop.toSeq: _*)).as("kept"))
      .select(col("doc_id"),
        concat_ws(" ", col("kept")).as("clean_text"),
        (size(col("toks")) - size(col("kept"))).as("n_removed"))
      .orderBy(col("doc_id"))
  }

  /** Per-document token-distribution entropy H = −Σ p·ln p (p = token
    * frequency within the doc) — the information-theoretic summary of the
    * repetition fractions: degenerate/boilerplate text scores near 0,
    * diverse text near ln(n_tokens). Per-term values are rounded then
    * accumulated as DECIMAL (the q74 idiom) so the per-doc sum is
    * partitioning-independent; the shuffles are the (doc, token) count
    * aggregate and an O(docs) total-join.
    */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val counts = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val totals = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val p = col("c").cast("double") / col("n").cast("double")
    counts.join(totals, Seq("doc_id"))
      .select(col("doc_id"), col("n"),
        GraftQuery.duckRound((p * log(p)) * lit(-1.0), 8).cast("decimal(28,8)").as("term"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_tokens"),
        sum(col("term")).cast("double").as("entropy"))
      .orderBy(col("doc_id"))
  }

  val qRepetitionSignals = GraftQuery(
    "q62_repetition_signals",
    (s, dir) => repetitionSignals(Tables.documents(s, dir)),
    Some("""
      WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                 FROM documents),
      b AS (SELECT doc_id, toks,
              list_transform(generate_series(1, len(toks)-1),
                i -> toks[i] || ' ' || toks[i+1]) AS bigrams,
              list_transform(generate_series(1, len(toks)-2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS trigrams
            FROM t),
      tc AS (SELECT doc_id AS tdoc, max(cnt) AS top_cnt FROM (
               SELECT doc_id, bg, count(*) AS cnt
               FROM (SELECT doc_id, unnest(bigrams) AS bg FROM b)
               GROUP BY doc_id, bg) GROUP BY doc_id)
      SELECT b.doc_id AS doc_id, len(toks) AS n_tokens,
        CASE WHEN len(toks) > 0
             THEN 1.0 - len(list_distinct(toks)) / len(toks) ELSE 0.0 END
          AS dup_token_frac,
        CASE WHEN len(bigrams) > 0
             THEN 1.0 - len(list_distinct(bigrams)) / len(bigrams) ELSE 0.0 END
          AS dup_bigram_frac,
        CASE WHEN len(trigrams) > 0
             THEN 1.0 - len(list_distinct(trigrams)) / len(trigrams) ELSE 0.0 END
          AS dup_trigram_frac,
        CASE WHEN len(bigrams) > 0
             THEN coalesce(tc.top_cnt, 0) / len(bigrams) ELSE 0.0 END
          AS top_bigram_frac
      FROM b LEFT JOIN tc ON b.doc_id = tc.tdoc
      ORDER BY doc_id"""))

  val qRemoveTopTokens = GraftQuery(
    "q63_stoplist_removal",
    (s, dir) => removeTopTokens(Tables.documents(s, dir), k = 5),
    Some("""
      WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                 FROM documents),
      dfq AS (SELECT tok, count(*) AS nd
              FROM (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM t)
              GROUP BY tok),
      stop AS (SELECT tok FROM dfq ORDER BY nd DESC, tok LIMIT 5),
      stopl AS (SELECT list(tok ORDER BY tok) AS sl FROM stop),
      keptt AS (SELECT doc_id, toks,
                  list_filter(toks, x -> NOT list_contains(sl, x)) AS kept
                FROM t CROSS JOIN stopl)
      SELECT doc_id, array_to_string(kept, ' ') AS clean_text,
             len(toks) - len(kept) AS n_removed
      FROM keptt ORDER BY doc_id"""))

  val qTokenEntropy = GraftQuery(
    "q92_token_entropy",
    (s, dir) => tokenEntropy(Tables.documents(s, dir)),
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents),
      counts AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok),
      totals AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
      terms AS (
        SELECT c.doc_id, t.n,
               CAST(round(-(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE)) *
                          ln(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE)), 8)
                    AS DECIMAL(28,8)) AS term
        FROM counts c JOIN totals t ON c.doc_id = t.doc_id)
      SELECT doc_id, max(n) AS n_tokens,
             CAST(sum(term) AS DOUBLE) AS entropy
      FROM terms GROUP BY doc_id ORDER BY doc_id"""))

  val queries: Seq[GraftQuery] = Seq(qRepetitionSignals, qRemoveTopTokens,
    qTokenEntropy)
}
