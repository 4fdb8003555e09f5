package graft.text

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-level training-data operators: vocabulary building and
  * stratified sampling.
  */
object CorpusOps {

  /** Token vocabulary with document frequency: explode → two aggregates.
    * At corpus scale the token shuffle is the dominant cost — counts are
    * partially aggregated map-side, and the top-k is TakeOrdered (no
    * global sort).
    */
  def vocabulary(docs: DataFrame, topK: Int): DataFrame =
    docs.select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(topK)

  /** Deterministic stratified sampling by a label column: keeps a row when
    * a uniform hash of its id lands under the stratum's fraction.
    * Hash-based (not RNG-based) so the sample is reproducible across
    * partitionings, retries, and engines — a requirement for auditable
    * training-data pipelines. hashMode "md5" derives the uniform from the
    * [[TextExprs]] md5-prefix hash (built-ins only: conv∘substr∘md5) so a
    * DuckDB oracle reproduces the exact sample; "xx" (default) keeps the
    * cheaper xxhash64.
    */
  def stratifiedSample(df: DataFrame, label: String, idCol: String,
                       fractions: Map[String, Double],
                       hashMode: String = "xx"): DataFrame = {
    val h =
      if (hashMode == "md5")
        conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10).cast("long")
      else xxhash64(col(idCol))
    val u = (pmod(h, lit(1000000L)).cast("double") / 1000000.0)
    val frac = fractions.foldLeft(lit(0.0)) { case (acc, (k, f)) =>
      when(col(label) === k, lit(f)).otherwise(acc)
    }
    df.filter(u < frac)
  }

  /** Exact-count stratified sampling: exactly `n` rows per stratum (or all
    * rows of a smaller stratum), chosen by deterministic md5-hash order —
    * the balanced-eval-set constructor (fraction sampling, q47, cannot hit
    * exact counts). The rank filter plans as WindowGroupLimit: each map
    * task pre-trims to n rows per stratum BEFORE the shuffle, so the
    * exchange carries ≤ partitions·strata·n rows at any corpus size.
    */
  def exactStratifiedSample(df: DataFrame, label: String, idCol: String,
                            n: Int): DataFrame = {
    require(n >= 1, s"exactStratifiedSample n must be >= 1, got $n")
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val w = Window.partitionBy(col(label)).orderBy(h, col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= n)
      .drop("_rn")
  }

  // ---- queries -----------------------------------------------------------

  val qVocab = GraftQuery(
    "q46_vocabulary",
    (s, dir) => vocabulary(Tables.documents(s, dir), 100),
    Some("""
      SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
      FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
            FROM documents) t
      GROUP BY token
      ORDER BY tf DESC, token
      LIMIT 100"""))

  /** Deterministic hash-based stratified sample in md5 mode — DuckDB
    * reproduces the identical uniform (md5-prefix mod 1e6), so the exact
    * sampled row set is hash-checked; proportions also pinned in the spec.
    */
  val qStratified = GraftQuery(
    "q47_stratified_sample",
    (s, dir) =>
      stratifiedSample(Tables.documents(s, dir), "lang", "doc_id",
        Map("en" -> 1.0, "de" -> 0.5, "es" -> 0.25, "fr" -> 0.25, "zh" -> 0.1),
        hashMode = "md5")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id")),
    Some(s"""
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
          CAST(${Md5P61.duckBase("CAST(doc_id AS VARCHAR)")} % 1000000
               AS DOUBLE) / 1000000.0 AS u,
          CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 0.5 WHEN 'es' THEN 0.25
                    WHEN 'fr' THEN 0.25 WHEN 'zh' THEN 0.1 ELSE 0.0 END AS frac
        FROM documents) t
      WHERE u < frac
      ORDER BY doc_id"""))

  /** TF-IDF weights: per-doc term frequency × ln(N/df) over the full
    * corpus. N is a broadcast 1-row aggregate; the df table joins WITHOUT
    * a hint — its cardinality is the corpus vocabulary (unbounded on raw
    * web text), so AQE decides broadcast vs sort-merge at runtime. Output
    * restricted to a doc subset to bound the dump (the full table is the
    * same plan). Rounded to 8 — ln() can differ in the last ULP between
    * libm and the JVM.
    */
  val qTfIdf = GraftQuery(
    "q48_tfidf",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val tokens = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      val tf = tokens.filter(col("doc_id") < 20)
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val dfTable = tokens.select(col("doc_id"), col("token")).distinct()
        .groupBy(col("token")).agg(count(lit(1)).as("df"))
      val n = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
      tf.join(dfTable, "token")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          GraftQuery.duckRound(col("tf") * log(col("n_docs").cast("double") / col("df")), 8)
            .as("tfidf"))
        .orderBy(col("doc_id"), col("token"))
    },
    Some("""
      WITH tokens AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents),
      tf AS (
        SELECT doc_id, token, count(*) AS tf FROM tokens
        WHERE doc_id < 20 GROUP BY doc_id, token),
      dft AS (
        SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM tokens) GROUP BY token),
      n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
      SELECT doc_id, token, tf, df,
             round(tf * ln(CAST(n_docs AS DOUBLE) / df), 8) AS tfidf
      FROM tf JOIN dft USING (token) CROSS JOIN n
      ORDER BY doc_id, token"""))

  /** arg_max/min aggregates (the A7 first/last primitive) — tie-free on
    * this data ((user_id, ts) is unique at every SF).
    */
  val qArgMax = GraftQuery(
    "q49_argmax",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          max_by(col("event_type"), col("ts")).as("last_event_type"),
          min_by(col("event_type"), col("ts")).as("first_event_type"),
          max_by(col("value"), col("ts")).as("last_value"))
        .orderBy(col("user_id")),
    Some("""
      SELECT user_id,
             arg_max(event_type, CAST(ts AS TIMESTAMP)) AS last_event_type,
             arg_min(event_type, CAST(ts AS TIMESTAMP)) AS first_event_type,
             arg_max(value, CAST(ts AS TIMESTAMP)) AS last_value
      FROM events
      GROUP BY user_id
      ORDER BY user_id"""))

  /** q82: exactly 20 docs per language, md5-hash order (both engines
    * reproduce the identical sample — the q47 idiom with exact counts).
    */
  val qExactSample = GraftQuery(
    "q82_exact_sample",
    (s, dir) =>
      exactStratifiedSample(Tables.documents(s, dir), "lang", "doc_id", n = 20)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id")),
    Some(s"""
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                 ORDER BY ${Md5P61.duckBase("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
        FROM documents) t
      WHERE rn <= 20
      ORDER BY doc_id"""))

  /** Deterministic, disjoint train/val/test assignment by document-id hash
    * — the leakage-safe split a training pipeline needs: a document's split
    * is a pure function of its id (md5-prefix uniform, the q47 idiom), so
    * it never moves between splits across reruns, repartitions, engines, or
    * corpus growth (new docs land in splits at the target rates; existing
    * assignments are stable — the property fraction- or RNG-based splits
    * lack). Boundaries partition [0,1): u < trainFrac → train,
    * u < trainFrac+valFrac → val, else test.
    *
    * Returns the per-(split, lang) dataset card (doc count, char volume) —
    * ONE narrow map for the assignment (no shuffle until the O(splits ×
    * langs) aggregate, which partial-aggregates map-side).
    */
  def datasetSplit(docs: DataFrame, trainFrac: Double,
                   valFrac: Double): DataFrame = {
    require(trainFrac > 0 && valFrac > 0 && trainFrac + valFrac < 1,
      s"fractions must be positive with trainFrac+valFrac < 1, " +
        s"got train=$trainFrac val=$valFrac")
    val u = pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long"), lit(1000000L)).cast("double") / 1000000.0
    docs.select(
      when(u < trainFrac, lit("train"))
        .when(u < trainFrac + valFrac, lit("val"))
        .otherwise(lit("test")).as("split"),
      col("lang"), col("n_chars"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy(col("split"), col("lang"))
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    * Spirakis exponential race): rank every row by ln(u)/w — u a pure
    * md5-hash uniform in (0,1], w the row's weight — and keep the top k.
    * Inclusion probability is proportional to weight, the chosen set is a
    * pure function of the ids (reproducible across engines, partitionings
    * and reruns), and the selection is one TakeOrdered pass: no global
    * sort, no sequential cumulative-weight scan.
    *
    * The only non-integer step is ln(u) on a well-separated uniform —
    * adjacent race keys differ by ~1e-5 at corpus scale, 10 orders above
    * any libm ulp disagreement, so the boundary is engine-stable.
    */
  def weightedSample(docs: DataFrame, weightCol: String, k: Int): DataFrame = {
    require(k >= 1, s"weightedSample needs k >= 1, got $k")
    val h = conv(substring(md5(concat(lit("graft_ws:"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    val u = (pmod(h, lit(1000000L)).cast("double") + lit(1.0)) / lit(1000001.0)
    docs.filter(col(weightCol) > 0)
      .withColumn("__race", log(u) / col(weightCol))
      .orderBy(col("__race").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("source"), col(weightCol))
      .orderBy(col("doc_id"))
  }

  val qDatasetSplit = GraftQuery(
    "q118_dataset_split",
    (s, dir) => datasetSplit(Tables.documents(s, dir),
      trainFrac = 0.9, valFrac = 0.05),
    Some(s"""
      WITH assigned AS (
        SELECT CASE
                 WHEN u < 0.9 THEN 'train'
                 WHEN u < 0.95 THEN 'val'
                 ELSE 'test' END AS split,
               lang, n_chars
        FROM (SELECT lang, n_chars,
                     CAST(${Md5P61.duckBase("CAST(doc_id AS VARCHAR)")} % 1000000
                          AS DOUBLE) / 1000000.0 AS u
              FROM documents) t)
      SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM assigned
      GROUP BY split, lang
      ORDER BY split, lang"""))

  val qWeightedSample = GraftQuery(
    "q127_weighted_sample",
    (s, dir) => weightedSample(Tables.documents(s, dir), "n_chars", k = 100),
    Some(s"""
      WITH keyed AS (
        SELECT doc_id, source, n_chars,
               ln((CAST(${Md5P61.duckBase("concat('graft_ws:', CAST(doc_id AS VARCHAR))")}
                     % 1000000 AS DOUBLE) + 1.0) / 1000001.0) / n_chars AS race
        FROM documents WHERE n_chars > 0),
      top AS (SELECT doc_id, source, n_chars FROM keyed
              ORDER BY race DESC, doc_id LIMIT 100)
      SELECT doc_id, source, n_chars FROM top ORDER BY doc_id"""))

  val queries: Seq[GraftQuery] = Seq(qVocab, qStratified, qTfIdf, qArgMax,
    qExactSample, qDatasetSplit, qWeightedSample)
}
