package graft.text

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-safety operators a training-data pipeline runs before a corpus
  * ships: benchmark-contamination detection (does a training document
  * contain n-grams of an eval set?) and PII redaction (emails/phones
  * scrubbed, with per-document match counts for audit).
  *
  * Scale design:
  *  - contamination: the EVAL side is tiny by nature (benchmarks are
  *    thousands of items, the corpus is billions) — its distinct gram set
  *    is broadcast, so the corpus is never shuffled: explode-to-grams is a
  *    narrow generator, the gram join is a map-side broadcast hash join,
  *    and the only exchange carries (doc_id, count) partial aggregates.
  *    Gram strings can be xxhash64-compressed to 8-byte keys at scale;
  *    the registry query keeps raw grams so DuckDB can oracle it.
  *  - redaction: pure per-row regexp projection (codegen'd, no UDF, no
  *    shuffle); patterns use the portable character-class subset that
  *    Java regex and RE2 interpret identically.
  */
object CorpusSafety {

  /** Per-document n-gram overlap with a benchmark set: n_grams in the
    * doc, n_hits of them in the benchmark, the hit rate, and the
    * `contaminated` flag (n_hits >= minHits — one shared gram is noise,
    * a run of them is leakage).
    */
  def contaminationCheck(corpus: DataFrame, benchmark: DataFrame, n: Int = 3,
                         minHits: Int = 2): DataFrame = {
    def grams(c: Column): Column =
      TextExprs.tokenShingles(TextAnalysis.tokens(c), n)
    val bench = benchmark.select(explode(grams(col("text"))).as("gram")).distinct()
    val corpusGrams = corpus.select(col("doc_id"), grams(col("text")).as("gl"))
    // grams are distinct per doc (TokenShingles dedups), so count(*) after
    // the join counts DISTINCT shared grams without a dedup pass
    val hits = corpusGrams
      .select(col("doc_id"), explode(col("gl")).as("gram"))
      .join(broadcast(bench), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
    corpusGrams.select(col("doc_id"), size(col("gl")).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_grams"))
          .as("contamination_rate"),
        (coalesce(col("n_hits"), lit(0L)) >= minHits).as("contaminated"))
  }

  /** Portable PII patterns — the character-class/quantifier subset that
    * Java regex (Spark) and RE2 (DuckDB/Go) match identically.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+1-555-[0-9]{4}"

  /** Redact emails/phones in `textCol` → `redacted`, with per-row match
    * counts (`n_emails`, `n_phones`) kept for the audit trail.
    */
  def redactPii(df: DataFrame, textCol: String): DataFrame =
    df
      .withColumn("n_emails", regexp_count(col(textCol), lit(EmailPattern)))
      .withColumn("n_phones", regexp_count(col(textCol), lit(PhonePattern)))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
          PhonePattern, "<PHONE>"))
      .drop(textCol)

  /** q58: contamination of the documents corpus against a benchmark
    * stand-in (the 20 lowest doc_ids — in production this is the external
    * eval set). Trigram overlap; the benchmark docs themselves score 1.0,
    * proving detection end-to-end.
    */
  val qContamination = GraftQuery(
    "q58_contamination",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      contaminationCheck(d.select(col("doc_id"), col("text")),
          d.filter(col("doc_id") < 20).select(col("text")))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH tk AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        FROM documents),
      grams AS (
        SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(tk) - 2, 0)),
          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gl
        FROM tk),
      bench AS (
        SELECT DISTINCT unnest(gl) AS gram FROM grams WHERE doc_id < 20),
      cg AS (SELECT doc_id, unnest(gl) AS gram FROM grams),
      hits AS (
        SELECT c.doc_id, count(*) AS n_hits
        FROM cg c JOIN bench b USING (gram)
        GROUP BY c.doc_id)
      SELECT g.doc_id, len(g.gl) AS n_grams,
             coalesce(h.n_hits, 0) AS n_hits,
             CASE WHEN len(g.gl) = 0 THEN 0.0
                  ELSE CAST(coalesce(h.n_hits, 0) AS DOUBLE) / len(g.gl) END
               AS contamination_rate,
             coalesce(h.n_hits, 0) >= 2 AS contaminated
      FROM grams g LEFT JOIN hits h ON g.doc_id = h.doc_id
      ORDER BY g.doc_id"""))

  /** q59: PII redaction over documents. The corpus text is word-salad with
    * no PII, so each doc gets a deterministic synthetic email + phone
    * appended (buildable identically in both engines) — guaranteeing the
    * patterns have real work at every SF.
    */
  val qPiiRedact = GraftQuery(
    "q59_pii_redact",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val full = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      redactPii(d.select(col("doc_id"), full.as("full_text")), "full_text")
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH f AS (
        SELECT doc_id,
          text || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@mail.example.com or +1-555-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS full_text
        FROM documents)
      SELECT doc_id,
        len(regexp_extract_all(full_text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        len(regexp_extract_all(full_text, '\+1-555-[0-9]{4}')) AS n_phones,
        regexp_replace(regexp_replace(full_text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS redacted
      FROM f
      ORDER BY doc_id"""))

  /** q149: cross-source n-gram containment matrix — for every ordered
    * source pair, the fraction of A's distinct token bigrams that also
    * appear anywhere in B. The corpus-level contamination/provenance map
    * (a mirror or heavy quoter lights up as a high-containment cell)
    * next to q58's corpus-vs-benchmark check.
    *
    * Scale shape: the (source, gram) distinct table is the only
    * corpus-scale frame; the matrix join is gram-keyed with fan-out
    * bounded by sources² per gram (a domain constant), and the output is
    * O(sources²). Containment divides exact BIGINTs.
    */
  val qSourceOverlap = GraftQuery(
    "q149_source_overlap",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val g0 = docs.select(col("source"),
          explode(TextExprs.tokenShingles(TextAnalysis.tokens(col("text")), 2)).as("g"))
        .distinct()
        .localCheckpoint() // referenced three times (sizes + both join sides)
      val sizes = g0.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
      val inter = g0.select(col("source").as("source_a"), col("g"))
        .join(g0.select(col("source").as("source_b"), col("g")), "g")
        .filter(col("source_a") =!= col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_common"))
      inter
        .join(sizes.select(col("source").as("source_a"),
          col("n_grams").as("n_grams_a")), Seq("source_a"))
        .select(col("source_a"), col("source_b"), col("n_common"),
          col("n_grams_a"),
          (col("n_common").cast("double") / col("n_grams_a").cast("double"))
            .as("containment"))
        .orderBy(col("source_a"), col("source_b"))
    },
    Some("""
      WITH g0 AS (
        SELECT DISTINCT source, g FROM (
          SELECT source,
                 unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(toks) - 1, 0)),
                   i -> toks[i] || ' ' || toks[i + 1]))) AS g
          FROM (SELECT source, regexp_split_to_array(trim(text), '\s+') AS toks
                FROM documents) t) u),
      sizes AS (SELECT source, count(*) AS n_grams FROM g0 GROUP BY source),
      inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_common
        FROM g0 a JOIN g0 b ON a.g = b.g AND a.source <> b.source
        GROUP BY source_a, source_b)
      SELECT i.source_a, i.source_b,
             CAST(i.n_common AS BIGINT) AS n_common,
             CAST(sz.n_grams AS BIGINT) AS n_grams_a,
             CAST(i.n_common AS DOUBLE) / CAST(sz.n_grams AS DOUBLE)
               AS containment
      FROM inter i JOIN sizes sz ON i.source_a = sz.source
      ORDER BY i.source_a, i.source_b"""))

  val queries: Seq[GraftQuery] = Seq(qContamination, qPiiRedact, qSourceOverlap)
}
