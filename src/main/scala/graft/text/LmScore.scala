package graft.text

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-trained bigram language-model scoring — the CCNet-style
  * "perplexity filter" (Wenzek et al. 2020) with the LM trained on the
  * corpus itself: per document, the average negative log-probability of its
  * token bigrams under an add-one-smoothed bigram model,
  * p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V). High scores flag documents
  * whose word transitions are unlike the corpus (gibberish, boilerplate
  * soup); [[CorpusPrep.rarityScore]] (q65) is the unigram version.
  *
  * At 100 TB:
  *  - both count tables aggregate 64-bit token/bigram HASHES (map-side
  *    partial agg; the strings never shuffle);
  *  - the count lookups are unhinted hash-keyed joins — vocabulary and
  *    bigram-vocabulary are unbounded on raw web text, so AQE picks
  *    broadcast vs sort-merge from runtime stats (the q65 lesson);
  *  - V is a 1-row aggregate, crossJoin(broadcast);
  *  - per-term values are rounded then accumulated as DECIMAL(28,8), so
  *    the per-doc sum is exact and partitioning-independent.
  *
  * Output: (doc_id, n_bigrams, avg_neg_logprob) for every doc with >= 2
  * tokens (shorter docs have no bigram distribution to score).
  */
object LmScore {

  def bigramLmScore(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))

    val uni = toks.select(explode(col("toks")).as("w"))
      .select(xxhash64(col("w")).as("hw"))
    val cu = uni.groupBy(col("hw")).agg(count(lit(1)).as("cw"))
    // V as a GLOBAL distinct-count (not count-over-cu): the broadcast hint
    // below must not sit over a grouped aggregate (PlanAuditSpec's q65-class
    // ban); a global aggregate is ≤1 row by construction
    val vCount = uni.agg(countDistinct(col("hw")).as("v"))

    // posexplode + element_at lookahead (NOT exploding a derived bigram
    // array: that inlines the generator and re-tokenizes per element — the
    // measured O(tokens²·len) trap documented at Repetition.repetitionSignals)
    val pairs = toks
      .select(col("doc_id"), col("toks"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .filter(col("pos") + 1 < size(col("toks")))
      .select(col("doc_id"), xxhash64(col("tok")).as("hw"),
        xxhash64(concat_ws(" ", col("tok"),
          element_at(col("toks"), col("pos") + 2))).as("hb"))

    val cb = pairs.groupBy(col("hb")).agg(count(lit(1)).as("cbg"))

    pairs
      .join(cb, Seq("hb"))
      .join(cu, Seq("hw"))
      .crossJoin(broadcast(vCount))
      .select(col("doc_id"),
        GraftQuery.duckRound((log((col("cbg") + lit(1)).cast("double") /
          (col("cw") + col("v")).cast("double"))) * lit(-1.0), 8)
          .cast("decimal(28,8)").as("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        GraftQuery.duckRound(sum(col("term")).cast("double") / count(lit(1)), 6)
          .as("avg_neg_logprob"))
      .orderBy(col("doc_id"))
  }

  // ---- queries -------------------------------------------------------------

  val qBigramLm = GraftQuery(
    "q74_bigram_lm_score",
    (s, dir) => bigramLmScore(Tables.documents(s, dir)),
    Some("""
      WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                 FROM documents),
      cu AS (SELECT w, count(*) AS cw
             FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
      vv AS (SELECT count(*) AS v FROM cu),
      pairs AS (
        SELECT doc_id, u.w1 AS w1, u.bg AS bg FROM (
          SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
            i -> struct_pack(w1 := toks[i], bg := toks[i] || ' ' || toks[i+1]))) AS u
          FROM t WHERE len(toks) >= 2) s
      ),
      cb AS (SELECT bg, count(*) AS cbg FROM pairs GROUP BY bg),
      terms AS (
        SELECT p.doc_id,
               CAST(round(-ln(CAST(cb.cbg + 1 AS DOUBLE) /
                              CAST(cu.cw + vv.v AS DOUBLE)), 8)
                    AS DECIMAL(28,8)) AS term
        FROM pairs p JOIN cb ON p.bg = cb.bg JOIN cu ON p.w1 = cu.w
        CROSS JOIN vv
      )
      SELECT doc_id, count(*) AS n_bigrams,
             round(CAST(sum(term) AS DOUBLE) / count(*), 6) AS avg_neg_logprob
      FROM terms GROUP BY doc_id ORDER BY doc_id"""))

  val queries: Seq[GraftQuery] = Seq(qBigramLm)
}
