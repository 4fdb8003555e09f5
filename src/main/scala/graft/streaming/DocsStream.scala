package graft.streaming

import graft.GraftQuery
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Streaming corpus ingest dedup: as documents stream in, keep exactly
  * one per content hash — the live dual of the batch exact-dedup family
  * (q20) and the LLM-ingest gate ("never re-add a document already in
  * the corpus"). Complements [[graft.sources.RawTextSink.write]],
  * whose reference-faithful scope is keep-LAST-1; this is
  * corpus-global keep-one.
  *
  * Winner semantics are min-doc_id-wins, NOT literal arrival order:
  * micro-batch composition is nondeterministic, so "first seen" would be
  * too — min over ids is arrival-order-independent, which is what makes
  * a bit-exact batch oracle possible for a streaming operator.
  *
  * At 100 TB of stream history: state is ONE long per distinct content
  * hash (the hash itself is the grouping key) — the same bounded-state
  * argument as latest-per-key, with RocksDB state stores at production
  * volume. The document text never enters state; it is hashed in the
  * narrow pre-projection and dropped.
  */
object DocsStream {

  /** min-doc_id per content hash via mapGroupsWithState (update mode). */
  def dedupFirstSeen(docs: Dataset[(String, Long)]): Dataset[(String, Long)] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (hash: String, batch: Iterator[(String, Long)], state: GroupState[Long]) =>
          val keep = (state.getOption.iterator ++ batch.map(_._2)).min
          state.update(keep)
          (hash, keep)
      }
  }

  /** Bounded-retention variant: [[dedupFirstSeen]]'s NoTimeout is the
    * right call for corpus-GLOBAL semantics ("never re-add, ever"), but
    * rolling-window deployments (re-crawl pipelines, freshness-bounded
    * corpora) want state that expires: a content hash idle for `ttlMs` of
    * processing time is evicted, and a later duplicate re-admits the
    * document as a fresh entry. flatMapGroupsWithState so the timeout
    * sweep emits nothing (an eviction is not an update); timeouts fire on
    * the next batch after expiry, per the engine's processing-time
    * contract. State stays one long per LIVE hash — the TTL turns the
    * unbounded distinct-hash bound into a retention-window bound.
    */
  def dedupFirstSeenTtl(docs: Dataset[(String, Long)],
                        ttlMs: Long): Dataset[(String, Long)] = {
    require(ttlMs > 0, s"dedupFirstSeenTtl ttlMs must be positive, got $ttlMs")
    import docs.sparkSession.implicits._
    docs.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long)](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.ProcessingTimeTimeout()) {
        (hash: String, batch: Iterator[(String, Long)], state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val keep = (state.getOption.iterator ++ batch.map(_._2)).min
            state.update(keep)
            state.setTimeoutDuration(ttlMs)
            Iterator.single((hash, keep))
          }
      }
  }

  /** Live token heavy-hitters: running corpus-wide count per token as
    * documents stream in — the streaming dual of the batch vocabulary
    * build (q46), the live dashboard behind "what is this crawl actually
    * ingesting". State is ONE long per distinct token (the vocabulary
    * bound, same class as the dedup gate's distinct-hash bound); tokens
    * are exploded in the narrow pre-projection so the text never enters
    * state, and counts are SUMS — commutative, so the final state is
    * arrival-order-independent and a batch oracle is exact.
    */
  def tokenCounts(toks: Dataset[String]): Dataset[(String, Long)] = {
    import toks.sparkSession.implicits._
    toks.groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (tok: String, batch: Iterator[String], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + batch.size
          state.update(total)
          (tok, total)
      }
  }

  /** Live per-source ingest card: running (docs, chars, short-docs) per
    * source as the crawl streams in — the mixture monitor a training-data
    * pipeline keeps on screen ("is source X flooding us with stubs?").
    * Unlike [[tokenCounts]]' single long, state is a 3-field record per
    * source (the O(sources) bound — tiny); every field is a commutative
    * SUM, so the final state is arrival-order-independent and the batch
    * oracle is exact.
    */
  def sourceCards(docs: Dataset[(String, Long)], shortLen: Long): Dataset[(String, Long, Long, Long)] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (source: String, batch: Iterator[(String, Long)],
         state: GroupState[(Long, Long, Long)]) =>
          val (n0, c0, s0) = state.getOption.getOrElse((0L, 0L, 0L))
          var n = n0; var c = c0; var sh = s0
          batch.foreach { case (_, nChars) =>
            n += 1; c += nChars; if (nChars < shortLen) sh += 1
          }
          state.update((n, c, sh))
          (source, n, c, sh)
      }
  }

  /** Run the dedup as a real streaming query (update mode, AvailableNow)
    * and reduce the update log to final state: per hash the last update
    * holds the overall min, and min over the log equals it.
    *
    * SPARK_GRAFT_DEDUP_TTL_MS (soak knob, VERDICT r17 item 4) switches
    * the operator to [[dedupFirstSeenTtl]], so the soak exercises the
    * EVICTION path: hashes idle past the TTL leave state between
    * micro-batches and soak_metrics records the state-row drop. The final
    * table is TTL-composition-independent BY CONSTRUCTION of this run's
    * reduce: every hash is emitted with its batch-min at least once, and
    * the min-over-update-log below recovers the global min whether or not
    * the hash's state was evicted and re-admitted in between — so the
    * same batch oracle stays exact under any eviction schedule.
    */
  def runDocDedupStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    StreamRun.toTable(spark, sfDir, "documents", "stream_dedup", "update") { docs =>
      val src = docs
        // null text has no content hash, null doc_id can't be kept —
        // drop at the source columns (ingest validation; filtering the
        // computed hash would evaluate md5 twice per row)
        .filter(col("text").isNotNull && col("doc_id").isNotNull)
        .select(md5(col("text")).as("h"), col("doc_id")).as[(String, Long)]
      sys.env.get("SPARK_GRAFT_DEDUP_TTL_MS")
        .map(_.toLong).fold(dedupFirstSeen(src))(dedupFirstSeenTtl(src, _))
        .toDF("content_hash", "keep_doc_id")
    }
      .groupBy(col("content_hash"))
      .agg(min(col("keep_doc_id")).as("keep_doc_id"))
      .orderBy(col("content_hash"))
  }

  val qDocDedup = GraftQuery(
    "stream_doc_dedup",
    (s, dir) => runDocDedupStream(s, dir),
    Some("""
      SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id
      FROM documents
      GROUP BY md5(text)
      ORDER BY content_hash"""))

  /** Run the heavy-hitter tracker as a real streaming query and reduce the
    * update log to the final top-k: per token the count only grows, so
    * max-over-updates IS the final state.
    */
  def runTokenTopKStream(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    import spark.implicits._
    StreamRun.toTable(spark, sfDir, "documents", "stream_topk", "update") { docs =>
      tokenCounts(docs
        .select(explode(graft.text.TextAnalysis.tokens(col("text"))).as("tok"))
        .as[String])
        .toDF("token", "cnt")
    }
      .groupBy(col("token"))
      .agg(max(col("cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)
  }

  val qTokenTopK = GraftQuery(
    "stream_token_topk",
    (s, dir) => runTokenTopKStream(s, dir, k = 50),
    Some("""
      SELECT token, count(*) AS cnt
      FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
            FROM documents) t
      GROUP BY token
      ORDER BY cnt DESC, token
      LIMIT 50"""))

  /** Run the source-card monitor as a real streaming query; every metric
    * only grows, so max-over-updates per source IS the final state.
    */
  def runSourceCardsStream(spark: SparkSession, sfDir: String,
                           shortLen: Long): DataFrame = {
    import spark.implicits._
    StreamRun.toTable(spark, sfDir, "documents", "stream_cards", "update") { docs =>
      sourceCards(docs
        .select(col("source"), col("n_chars"))
        // a null n_chars (null text) can't decode into the primitive
        // count — drop at the boundary; a null source still cards
        .na.drop(Seq("n_chars")).as[(String, Long)], shortLen)
        .toDF("source", "n_docs", "n_chars", "n_short")
    }
      .groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"), max(col("n_chars")).as("n_chars"),
        max(col("n_short")).as("n_short"))
      .orderBy(col("source"))
  }

  val qSourceCards = GraftQuery(
    "stream_source_cards",
    (s, dir) => runSourceCardsStream(s, dir, shortLen = 200L),
    Some("""
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars,
             CAST(sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_short
      FROM documents
      GROUP BY source
      ORDER BY source"""))

  /** Live per-source quality-gate counters over the cascade's PER-ROW
    * stages (blank → length → quality → language): counts commute, so
    * the streaming result is bit-exact vs the batch q169 rollup
    * (stage 5's global dedup needs cross-row state and stays batch).
    * The flags come from [[graft.text.FilterCascade.stageFlags]] — the
    * SAME expressions the batch report stages, so gate and report can
    * never drift. State is six longs per source.
    */
  def qualityGate(rows: Dataset[(String, Long, Boolean, Boolean, Boolean, Boolean)])
      : Dataset[(String, Long, Long, Long, Long, Long, Long)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (source: String,
         batch: Iterator[(String, Long, Boolean, Boolean, Boolean, Boolean)],
         state: GroupState[(Long, Long, Long, Long, Long, Long)]) =>
          var (n, s1, s2, s3, s4, tok4) =
            state.getOption.getOrElse((0L, 0L, 0L, 0L, 0L, 0L))
          batch.foreach { case (_, nTok, p1, p2, p3, p4) =>
            n += 1
            if (p1) s1 += 1
            if (p2) s2 += 1
            if (p3) s3 += 1
            if (p4) { s4 += 1; tok4 += nTok }
          }
          state.update((n, s1, s2, s3, s4, tok4))
          (source, n, s1, s2, s3, s4, tok4)
      }
  }

  /** Run the gate as a real streaming query; counters are monotone, so
    * max over the update log per source is the final state.
    */
  def runQualityGateStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    StreamRun.toTable(spark, sfDir, "documents", "stream_gate", "update") { docs =>
      // null text yields null counts/flags, which can't decode into the
      // primitive fields — drop at the SOURCE column (ingest validation):
      // filtering the computed flags instead would re-evaluate the whole
      // text-analysis expression stack once for the filter and once for
      // the projection (measured +1 s on this row)
      val flagged = graft.text.FilterCascade.stageFlags(docs.filter(col("text").isNotNull))
        .select(col("source"), col("n_tok"),
          col("p1"), col("p2"), col("p3"), col("p4"))
        .as[(String, Long, Boolean, Boolean, Boolean, Boolean)]
      qualityGate(flagged)
        .toDF("source", "n_total", "s1_nonblank", "s2_length",
          "s3_quality", "s4_lang", "tok_s4")
    }
      .groupBy(col("source"))
      .agg(max(col("n_total")).as("n_total"),
        max(col("s1_nonblank")).as("s1_nonblank"),
        max(col("s2_length")).as("s2_length"),
        max(col("s3_quality")).as("s3_quality"),
        max(col("s4_lang")).as("s4_lang"),
        max(col("tok_s4")).as("tok_s4"))
      .orderBy(col("source"))
  }

  val qQualityGate = GraftQuery(
    "stream_quality_gate",
    (s, dir) => runQualityGateStream(s, dir),
    // the q169 stage-1..4 rollup (quality/lang fragments as q22/q23)
    Some("""
      WITH t AS (
        SELECT source, doc_id,
               CAST(length(text) AS DOUBLE) AS n_chars,
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
        SELECT source, n_tok, n_chars,
               least(n_chars / 500.0, 1.0) * 0.4
                 + (CASE WHEN (CASE WHEN n_tok > 0
                       THEN (n_chars - (n_tok - 1)) / n_tok ELSE 0.0 END) >= 3
                     AND (CASE WHEN n_tok > 0
                       THEN (n_chars - (n_tok - 1)) / n_tok ELSE 0.0 END) <= 10
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
      flagged AS (
        SELECT source, n_tok,
               n_tok > 0 AS p1,
               n_tok > 0 AND n_chars >= 100 AS p2,
               n_tok > 0 AND n_chars >= 100 AND quality >= 0.7 AS p3,
               n_tok > 0 AND n_chars >= 100 AND quality >= 0.7
                 AND pred_lang = 'en' AS p4
        FROM m)
      SELECT source, CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS s1_nonblank,
             CAST(sum(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS s2_length,
             CAST(sum(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS s3_quality,
             CAST(sum(CASE WHEN p4 THEN 1 ELSE 0 END) AS BIGINT) AS s4_lang,
             CAST(sum(CASE WHEN p4 THEN n_tok ELSE 0 END) AS BIGINT) AS tok_s4
      FROM flagged GROUP BY source ORDER BY source"""))

  val queries: Seq[GraftQuery] =
    Seq(qDocDedup, qTokenTopK, qSourceCards, qQualityGate)
}
