package graft.text

import graft.{GraftQuery, Tables}
import graft.plans.SimJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Prefix-filtered set-similarity self-join (the AllPairs/PPJoin family):
  * exact thresholded Jaccard pairs WITHOUT hashing approximation and
  * without the all-pairs product. Tokens get a global rarest-first
  * canonical order (by document frequency); a document of n distinct
  * tokens exposes only its first n − ⌈t·n⌉ + 1 tokens as join keys — any
  * pair with Jaccard ≥ t provably shares a token inside BOTH prefixes, so
  * candidate generation is complete while common tokens (which would
  * explode a plain token join) almost never appear in prefixes.
  *
  * Complements the MinHash path (q26): LSH trades recall for speed;
  * prefix filtering is EXACT — the candidate set provably contains every
  * qualifying pair, and the verify step removes nothing but false
  * candidates.
  *
  * Scale shape: token-df aggregate + per-doc rank window (bounded by doc
  * length), the capped prefix-token pair cover ([[SimJoin.blockPairs]]),
  * then a verify join fetching the two token sets per candidate. The
  * threshold compare is integer cross-multiplication (inter·den ≥
  * num·union) — no float boundary.
  */
object PrefixJoin {

  /** Exact Jaccard-≥(num/den) pairs over distinct-token sets.
    *
    * @param maxTokenDocs drop prefix-join blocks larger than this (the
    *   [[SimJoin.blockPairs]] cap: a token this common in PREFIXES means a
    *   pathological df distribution; candidates it would generate are
    *   dropped silently, and the oracle drops them the same way).
    */
  def jaccardPairs(docs: DataFrame, num: Int, den: Int,
                   maxTokenDocs: Int = 1000): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"threshold must satisfy 0 < num/den <= 1, got $num/$den")
    val t = BigDecimal(num) / BigDecimal(den)
    // referenced three times (token explode + both verify sides) —
    // materialize once or every reference re-runs the corpus-wide regex
    // tokenization (the q116 materialization note; the verify join
    // dominates this query, but the recompute is still a measurable
    // ~0.4 s at sf0.1 and a full extra scan at cluster scale)
    val toks = docs
      .select(col("doc_id"),
        array_distinct(TextAnalysis.tokens(col("text"))).as("ts"))
      .filter(length(trim(col("text"))) > 0)
      .localCheckpoint()
    val tok = toks.select(col("doc_id"), explode(col("ts")).as("token"))
    val dfreq = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val ranked = tok.join(dfreq, "token")
      .withColumn("rnk", row_number().over(
        wDoc.orderBy(col("df"), col("token"))))
      .withColumn("n", count(lit(1)).over(wDoc))
    val prefix = ranked
      .filter(col("rnk") <= col("n") - ceil(lit(t) * col("n")) + 1)
      .select(col("doc_id"), col("token"))
    // The pair expansion and the verify below are CPU-dense per input BYTE
    // (a few-MiB exchange fans out to ~500k pair comparisons), which AQE's
    // byte-based coalescing cannot see — measured at sf0.1 it folded both
    // exchanges to 3 tasks. The cover pins the expansion; pin the distinct
    // (a pair sharing several prefix tokens meets once per token) too: the
    // aggregate's required distribution is satisfied by this exact
    // exchange, so the dedup AND the verify joins downstream all run at the
    // pinned width instead of the byte-coalesced one.
    val cand = Tables.spread(
      SimJoin.blockPairs(prefix, Seq("token"), "doc_id", Nil, maxTokenDocs)
        .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b")),
      col("doc_a"), col("doc_b")).distinct()
    cand
      .join(toks.select(col("doc_id").as("doc_a"), col("ts").as("ts_a")), "doc_a")
      .join(toks.select(col("doc_id").as("doc_b"), col("ts").as("ts_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("ts_a"), col("ts_b"))))
      // |A ∪ B| = |A| + |B| − |A ∩ B| exactly (both sides are
      // array_distinct'd above): the arithmetic replaces a second
      // hash-set build + array materialization per candidate pair —
      // array_union was the same cost as array_intersect again, for a
      // number already determined by the sizes at hand
      .withColumn("un", size(col("ts_a")) + size(col("ts_b")) - col("inter"))
      .filter(col("inter") * den >= col("un") * num)
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / col("un").cast("double")).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ---- queries -------------------------------------------------------------

  /** q129: Jaccard ≥ 3/5 over the documents corpus; the oracle replays
    * df-ranking, prefix slicing, the hot-token cap and the integer
    * cross-multiplied verify.
    */
  val qPrefixJoin = GraftQuery(
    "q129_prefix_filter_join",
    (s, dir) => jaccardPairs(Tables.documents(s, dir), num = 3, den = 5),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS ts
        FROM documents WHERE length(trim(text)) > 0),
      tok AS (SELECT doc_id, unnest(ts) AS token FROM toks),
      dfreq AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
      ranked AS (
        SELECT t.doc_id, t.token,
               row_number() OVER (PARTITION BY t.doc_id
                                  ORDER BY d.df, t.token) AS rnk,
               count(*) OVER (PARTITION BY t.doc_id) AS n
        FROM tok t JOIN dfreq d USING (token)),
      prefix AS (
        SELECT doc_id, token FROM ranked
        WHERE rnk <= n - ceil(CAST(0.60 AS DECIMAL(4,2)) * n) + 1),
      capped AS (
        SELECT doc_id, token FROM prefix
        QUALIFY count(*) OVER (PARTITION BY token) <= 1000),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM capped a JOIN capped b USING (token)
        WHERE a.doc_id < b.doc_id),
      verified AS (
        SELECT c.doc_a, c.doc_b,
               len(list_intersect(x.ts, y.ts)) AS inter,
               len(list_distinct(x.ts || y.ts)) AS un
        FROM cand c
        JOIN toks x ON x.doc_id = c.doc_a
        JOIN toks y ON y.doc_id = c.doc_b)
      SELECT doc_a, doc_b,
             CAST(inter AS DOUBLE) / CAST(un AS DOUBLE) AS jaccard
      FROM verified
      WHERE inter * 5 >= un * 3
      ORDER BY doc_a, doc_b"""))

  val queries: Seq[GraftQuery] = Seq(qPrefixJoin)
}
