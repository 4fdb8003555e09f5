package graft.text

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PMI collocation mining: token pairs that co-occur as bigrams far more
  * often than their unigram frequencies predict —
  * pmi = ln(p(ab) / (p(a)·p(b))). The phrase detector behind tokenizer
  * vocabulary curation ("new york" deserves one token) and the association
  * statistic q74's conditional-probability LM does not expose.
  *
  * Scale shape: one O(tokens) bigram shuffle (the collocation table IS the
  * output), two unhinted unigram-count lookups (vocabulary is unbounded —
  * AQE decides), two 1-row global totals broadcast, TakeOrdered top-k. The
  * pmi expression is ln of a stepwise double ratio (never Nt² — that
  * leaves 2^53-exact range at corpus scale), rounded to 8 like every
  * ln-bearing oracle in the repo.
  */
object Collocations {

  def pmiCollocations(docs: DataFrame, minCount: Long, topK: Int): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val toks = docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val uni = toks.select(explode(col("toks")).as("w"))
    val cu = uni.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nt = uni.agg(count(lit(1)).as("nt"))

    val pairs = toks
      .select(col("toks"), posexplode(col("toks")).as(Seq("pos", "w1")))
      .filter(col("pos") + 1 < size(col("toks")))
      .select(col("w1"), element_at(col("toks"), col("pos") + 2).as("w2"))
    val cb = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cab"))
    val nb = pairs.agg(count(lit(1)).as("nb"))

    cb.filter(col("cab") >= minCount)
      .join(cu.select(col("w").as("w1"), col("c").as("ca")), Seq("w1"))
      .join(cu.select(col("w").as("w2"), col("c").as("cb")), Seq("w2"))
      .crossJoin(broadcast(nt))
      .crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("cab"),
        GraftQuery.duckRound(log((col("cab").cast("double") / col("nb")) /
          ((col("ca").cast("double") / col("nt")) *
            (col("cb").cast("double") / col("nt")))), 8).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  // ---- queries -------------------------------------------------------------

  val qPmi = GraftQuery(
    "q88_pmi_collocations",
    (s, dir) => pmiCollocations(Tables.documents(s, dir), minCount = 5, topK = 100),
    Some("""
      WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                 FROM documents),
      uni AS (SELECT unnest(toks) AS w FROM t),
      cu AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
      nt AS (SELECT count(*) AS nt FROM uni),
      pairs AS (
        SELECT u.w1 AS w1, u.w2 AS w2 FROM (
          SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
            i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS u
          FROM t WHERE len(toks) >= 2) s),
      cb AS (SELECT w1, w2, count(*) AS cab FROM pairs GROUP BY w1, w2),
      nb AS (SELECT count(*) AS nb FROM pairs)
      SELECT w1, w2, cab,
             round(ln((CAST(cab AS DOUBLE) / nb) /
                      ((CAST(ca.c AS DOUBLE) / nt.nt) *
                       (CAST(cbb.c AS DOUBLE) / nt.nt))), 8) AS pmi
      FROM cb
      JOIN cu ca ON cb.w1 = ca.w
      JOIN cu cbb ON cb.w2 = cbb.w
      CROSS JOIN nt CROSS JOIN nb
      WHERE cab >= 5
      ORDER BY pmi DESC, w1, w2
      LIMIT 100"""))

  val queries: Seq[GraftQuery] = Seq(qPmi)
}
