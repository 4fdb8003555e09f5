package graft.text

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Training-sequence preparation: sliding-window chunking (packing docs
  * into fixed context windows) and unigram-frequency rarity scoring (the
  * integer-exact perplexity proxy). Both are pre-training staples with no
  * reference analog — extension-set operators beside [[Repetition]].
  *
  * At 100 TB:
  *  - chunking is a generator expression (sequence + explode + slice) —
  *    fully narrow, no shuffle at all; output rows carry only their own
  *    chunk text, so downstream repartitioning pays O(output), not
  *    O(docs × window);
  *  - rarity scoring shuffles (token, count) scalars for the corpus
  *    frequency table and joins it back on the token key WITHOUT a
  *    broadcast hint: on raw web text the whitespace vocabulary (typos,
  *    numbers, URLs) is 1e9-1e10 tokens and a forced broadcast would OOM
  *    the driver. AQE upgrades the sort-merge join to broadcast at
  *    runtime exactly when the frequency table is actually small — the
  *    safe direction in both regimes. The fallback sort-merge join is
  *    still O(tokens) and skew-tolerant (no key is a constant fraction
  *    of the corpus after stoplisting).
  */
object CorpusPrep {

  /** Exclusive prefix sum over keyed long counts: rows (key, n) with
    * DISTINCT non-negative long keys in, (key, offset) out, where offset
    * = Σ n over all rows with a smaller key. Rows with a NULL key are
    * dropped before the ladder: they get no offset row and add nothing to
    * any other key's offset (left in, the top-level window's NULLS FIRST
    * order would add their count to every real key's offset).
    *
    * A flat `sum() over (order by key)` would drag every row into ONE
    * task, so the scan is a fixed bit-sliced ladder instead: level i
    * groups keys by the prefix `key >> min(63, i·bits)` — level 0 is the
    * input, the top level (bits·levels ≥ 63) collapses to a single key 0.
    * Upward pass: sibling totals per prefix (each a tiny O(distinct
    * prefixes) shuffle). Downward pass: offset(key) = offset(parent) +
    * Σ of smaller siblings — a window PARTITIONED by the parent prefix,
    * so every window partition holds ≤ 2^bits rows and the only
    * unpartitioned window sits above the top aggregate (≤ 2^bits rows).
    * The bound is corpus-INDEPENDENT: depth is fixed by the key domain
    * (`maxKeyBits`, 63 unless the caller can prove a tighter bound — e.g.
    * a bucket id < 2^16 needs one level), not by the data. Offset tables
    * join back by plain equi-join (no broadcast hint) — AQE broadcasts
    * them when they are actually small.
    */
  def exclusivePrefix(agg: DataFrame, keyCol: String, nCol: String,
                      offsetCol: String = "offset", bits: Int = 16,
                      maxKeyBits: Int = 63): DataFrame = {
    require(bits >= 1 && bits <= 32,
      s"exclusivePrefix bits must be in [1, 32], got $bits")
    require(maxKeyBits >= 1 && maxKeyBits <= 63,
      s"exclusivePrefix maxKeyBits must be in [1, 63], got $maxKeyBits")
    import org.apache.spark.sql.expressions.Window
    // enough levels that EVERY window partition — each level's sibling
    // groups AND the final top-level global window — is bounded by 2^bits
    // rows: keys < 2^maxKeyBits collapse to < 2^(maxKeyBits − levels·bits)
    // top rows, so ceil(maxKeyBits/bits) − 1 levels suffice. The previous
    // ceil(maxKeyBits/bits) ran one extra level whose top window held a
    // single row — a full agg-exchange + join + window round per call
    // (and per query that composes the ladder) bought nothing. Level
    // count never affects results (exact integer prefix sums at every
    // granularity), only the boundedness guarantee, which is preserved.
    val levels = math.max(0, (maxKeyBits + bits - 1) / bits - 1)
    // Self-check the caller's key-domain promise at run time: a key
    // outside [0, 2^maxKeyBits) would silently void the <= 2^bits
    // window-partition bound (a memory guarantee, not a correctness one —
    // the prefix sums stay exact either way), so fail loudly instead.
    // assert_true returns NULL when the predicate holds, so the filter
    // keeps every row. Catalyst pushes this filter below the caller's
    // aggregate and through upstream generators (packChunks' explode), so
    // it can run on raw rows whose key is NULL even though the NULL-key
    // filter sits before it here: the predicate must itself pass NULL, or
    // assert_true raises on rows that never reach the ladder.
    val maxKey = if (maxKeyBits == 63) Long.MaxValue else (1L << maxKeyBits) - 1
    val base = agg.select(col(keyCol).cast("long").as("k"),
      col(nCol).cast("long").as("n"))
      .filter(col("k").isNotNull)
      .filter(assert_true(
        col("k").isNull || (col("k") >= 0L && col("k") <= maxKey),
        concat(lit(s"exclusivePrefix: key outside promised [0, 2^$maxKeyBits): "),
          coalesce(col("k").cast("string"), lit("NULL")))).isNull)
    val aggs = Seq.iterate(base, levels + 1) { lvl =>
      // recompute the shift from the level's own key domain: shifting the
      // PARENT key by `bits` each step composes to min(63, i*bits) overall
      lvl.groupBy(shiftright(col("k"), bits).as("k")).agg(sum(col("n")).as("n"))
    }
    val wTop = Window.orderBy(col("k")).rowsBetween(Window.unboundedPreceding, -1)
    var off = aggs(levels)
      .withColumn("off", coalesce(sum(col("n")).over(wTop), lit(0L)))
      .select(col("k"), col("off"))
    for (i <- (levels - 1) to 0 by -1) {
      val wSib = Window.partitionBy(col("p")).orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, -1)
      off = aggs(i).withColumn("p", shiftright(col("k"), bits))
        .join(off.select(col("k").as("p"), col("off").as("poff")), Seq("p"))
        .withColumn("off", col("poff") + coalesce(sum(col("n")).over(wSib), lit(0L)))
        .select(col("k"), col("off"))
    }
    off.select(col("k").as(keyCol), col("off").as(offsetCol))
  }

  /** Slide a `window`-token frame by `stride` over each document: chunk i
    * covers tokens [i·stride, i·stride + window). Every token is covered
    * (the last start is the smallest multiple of stride reaching the
    * tail), short docs yield one short chunk, and overlap = window −
    * stride gives the context continuity training pipelines want.
    */
  def chunkDocuments(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window >= 1, s"chunkDocuments window must be >= 1, got $window")
    require(stride >= 1 && stride <= window,
      s"chunkDocuments stride must be in [1, window], got $stride (window $window)")
    val start = col("chunk_id") * stride
    docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
      .withColumn("n_chunks",
        when(col("n") <= window, lit(1))
          .otherwise(floor((col("n") - window + (stride - 1)) / stride).cast("int") + 1))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        concat_ws(" ", slice(col("toks"), start + 1,
          least(lit(window), col("n") - start))).as("chunk_text"),
        least(lit(window), col("n") - start).as("chunk_tokens"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Unigram-LM scoring with an exact integer witness: per document, the
    * total and mean corpus frequency of its tokens. Low mean_cf = rare
    * vocabulary (specialist or noisy text), high = boilerplate — the
    * shape of perplexity filtering without the float-log nondeterminism
    * (total_cf is an integer sum, so the result is order- and
    * partitioning-independent bit-for-bit).
    */
  def rarityScore(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val cf = toks.groupBy(col("tok")).agg(count(lit(1)).as("cf"))
    // No broadcast hint: cf's cardinality is the corpus vocabulary —
    // unbounded on raw web text. AQE picks broadcast when cf is small.
    toks.join(cf, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("cf")).as("total_cf"))
      .withColumn("mean_cf", col("total_cf") / col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Token-budget packing over the chunk stream (concat-and-split batch
    * assignment): lay the chunks end to end in (doc_id, chunk_id) order
    * and cut every `budget` tokens — chunk i's batch is its global start
    * offset div budget (chunks may straddle a cut, exactly like training
    * concat-split packing).
    *
    * The global running total is a HIERARCHICAL prefix sum — the naive
    * `sum() over (order by ...)` with no partition clause would drag the
    * whole corpus into ONE task. Instead: (1) per coarse doc-group token
    * totals (one O(groups) shuffle); (2) group offsets via the
    * [[exclusivePrefix]] bit-sliced ladder, whose every stage is bounded
    * by 2^bits rows per task REGARDLESS of corpus size; (3) join the
    * offsets back (AQE broadcasts them when small) and run the
    * within-group running sum, whose window partitions are bounded by
    * groupSize docs. Deterministic everywhere: integer sums over a total
    * (doc_id, chunk_id) order.
    */
  def packChunks(chunks: DataFrame, budget: Int, groupSize: Int = 1000,
                 ordered: Boolean = true): DataFrame = {
    require(budget >= 1, s"packChunks budget must be >= 1, got $budget")
    require(groupSize >= 1, s"packChunks groupSize must be >= 1, got $groupSize")
    import org.apache.spark.sql.expressions.Window
    val g = chunks.select(col("doc_id"), col("chunk_id"), col("chunk_tokens"))
      .withColumn("grp", floor(col("doc_id") / groupSize).cast("long"))
    val offsets = exclusivePrefix(
      g.groupBy(col("grp")).agg(sum(col("chunk_tokens")).as("grp_tokens")),
      "grp", "grp_tokens", offsetCol = "grp_offset")
    val wIn = Window.partitionBy(col("grp"))
      .orderBy(col("doc_id"), col("chunk_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val packed = g.join(offsets, Seq("grp"))
      .withColumn("start_offset",
        col("grp_offset") + coalesce(sum(col("chunk_tokens")).over(wIn), lit(0L)))
      .select(col("doc_id"), col("chunk_id"), col("chunk_tokens"),
        col("start_offset"),
        floor(col("start_offset") / budget).cast("long").as("batch_id"))
    // presentation order is an oracle/display concern, not packing
    // semantics — at scale skip the global sort (ordered = false)
    if (ordered) packed.orderBy(col("doc_id"), col("chunk_id")) else packed
  }

  val qChunk = GraftQuery(
    "q64_sequence_chunks",
    (s, dir) => chunkDocuments(Tables.documents(s, dir), window = 32, stride = 24),
    Some("""
      WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                 FROM documents),
      c AS (SELECT doc_id, toks, len(toks) AS n,
              CASE WHEN len(toks) <= 32 THEN 1
                   ELSE (len(toks) - 32 + 23) // 24 + 1 END AS n_chunks
            FROM t)
      SELECT doc_id, i AS chunk_id,
             array_to_string(toks[i*24 + 1 : i*24 + least(32, n - i*24)], ' ')
               AS chunk_text,
             least(32, n - i*24) AS chunk_tokens
      FROM (SELECT doc_id, toks, n, unnest(generate_series(0, n_chunks - 1)) AS i
            FROM c) s
      ORDER BY doc_id, chunk_id"""))

  val qRarity = GraftQuery(
    "q65_rarity_score",
    (s, dir) => rarityScore(Tables.documents(s, dir)),
    Some("""
      WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                 FROM documents),
      cf AS (SELECT tok, count(*) AS cf FROM t GROUP BY tok)
      SELECT t.doc_id AS doc_id, count(*) AS n_tokens,
             CAST(sum(cf.cf) AS BIGINT) AS total_cf,
             CAST(CAST(sum(cf.cf) AS BIGINT) AS DOUBLE) / count(*) AS mean_cf
      FROM t JOIN cf ON t.tok = cf.tok
      GROUP BY t.doc_id
      ORDER BY doc_id"""))

  /** Deterministic corpus shuffle for training order: shuffle_pos is each
    * doc's rank under a seeded hash order (md5(seed:doc_id), doc_id
    * tiebreak on collisions) — a reproducible global permutation, the
    * thing every pre-training run needs before epoch slicing.
    *
    * Global rank is the same trap as the packing prefix sum: a flat
    * `row_number() over (order by h)` is one task holding the corpus. The
    * hierarchical form buckets by a PREFIX of the sort key (bucket =
    * floor(first-16-bits · buckets / 65536) is monotone in h, so
    * (bucket, h) order IS h order): per-bucket counts → bucket offsets
    * via the [[exclusivePrefix]] ladder → bounded within-bucket
    * row_number. Hash bucketing also spreads the rank work uniformly —
    * no skew by construction.
    */
  def shuffleOrder(docs: DataFrame, seed: Long, buckets: Int = 256): DataFrame = {
    require(buckets >= 1 && buckets <= 65536,
      s"shuffleOrder buckets must be in [1, 65536], got $buckets")
    import org.apache.spark.sql.expressions.Window
    val h = docs.select(col("doc_id"),
      md5(concat_ws(":", lit(seed), col("doc_id"))).as("h"))
      .withColumn("bucket",
        floor(conv(substring(col("h"), 1, 4), 16, 10).cast("long")
          * buckets / 65536).cast("int"))
    // bucket < 2^16 by the require above — the ladder needs one level
    val offsets = exclusivePrefix(
      h.groupBy(col("bucket")).agg(count(lit(1)).as("n")),
      "bucket", "n", offsetCol = "bucket_offset", maxKeyBits = 16)
      .withColumn("bucket", col("bucket").cast("int"))
    val wRank = Window.partitionBy(col("bucket")).orderBy(col("h"), col("doc_id"))
    h.join(offsets, Seq("bucket"))
      .select(col("doc_id"),
        (col("bucket_offset") + row_number().over(wRank) - 1).as("shuffle_pos"))
      .orderBy(col("doc_id"))
  }

  /** groupSize 64 exercises multiple coarse groups (and so the offset
    * broadcast) even at sf0.01's 500 docs. The oracle computes the same
    * offsets with one flat global window — DuckDB can afford it at oracle
    * scale, which makes it a true independent check of the hierarchical
    * decomposition.
    */
  val qPack = GraftQuery(
    "q66_token_packing",
    (s, dir) => packChunks(
      chunkDocuments(Tables.documents(s, dir), window = 32, stride = 24),
      budget = 256, groupSize = 64),
    Some("""
      WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                 FROM documents),
      c AS (SELECT doc_id, toks, len(toks) AS n,
              CASE WHEN len(toks) <= 32 THEN 1
                   ELSE (len(toks) - 32 + 23) // 24 + 1 END AS n_chunks
            FROM t),
      chunks AS (
        SELECT doc_id, i AS chunk_id, least(32, n - i*24) AS chunk_tokens
        FROM (SELECT doc_id, n, unnest(generate_series(0, n_chunks - 1)) AS i
              FROM c) s),
      o AS (SELECT doc_id, chunk_id, chunk_tokens,
              CAST(coalesce(sum(chunk_tokens) OVER (ORDER BY doc_id, chunk_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                AS start_offset
            FROM chunks)
      SELECT doc_id, chunk_id, chunk_tokens, start_offset,
             start_offset // 256 AS batch_id
      FROM o ORDER BY doc_id, chunk_id"""))

  /** The full pre-training assembly: seeded corpus shuffle → concatenate
    * the token stream in shuffle order → cut fixed `windowTokens` windows
    * ACROSS document boundaries (the standard tokenize-concat-chunk; the
    * last window may be short). Composes [[shuffleOrder]] with the
    * hierarchical doc-offset prefix sum, then reassembles windows.
    *
    * At 100 TB: doc offsets are the q66 decomposition keyed by rank
    * groups, computed entirely on SLIM scalar rows (doc_id, counts) — the
    * token arrays never ride through the offset shuffles and join the
    * offsets exactly once, by doc_id. The reassembly then shuffles one
    * FRAGMENT row per (doc, window) overlap — O(docs +
    * tokens/windowTokens) rows, not one row per token (same bytes,
    * ~windowTokens× less row overhead) — keyed by window_id, which is
    * UNIFORM by construction (a contiguous range cut of the global
    * stream). Per-window state stays bounded by windowTokens; nothing
    * global ever sits in one task.
    */
  def trainingWindows(docs: DataFrame, seed: Long, windowTokens: Int,
                      groupSize: Int = 64): DataFrame = {
    require(windowTokens >= 1,
      s"trainingWindows windowTokens must be >= 1, got $windowTokens")
    require(groupSize >= 1,
      s"trainingWindows groupSize must be >= 1, got $groupSize")
    import org.apache.spark.sql.expressions.Window
    val W = windowTokens
    val slim = docs.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).as("n_tokens"))
      .join(shuffleOrder(docs, seed), Seq("doc_id"))
      .withColumn("grp", floor(col("shuffle_pos") / groupSize).cast("long"))
    // grp = shuffle_pos / groupSize and shuffle_pos is a corpus RANK, so
    // grp < n_docs/groupSize: 46 bits covers 2^46 ≈ 7·10^13 doc-groups —
    // far beyond any corpus — and halves the ladder depth vs the 63-bit
    // default (2 levels instead of 4; each level is an agg exchange +
    // join + window round)
    val offsets = exclusivePrefix(
      slim.groupBy(col("grp")).agg(sum(col("n_tokens")).as("grp_tokens")),
      "grp", "grp_tokens", offsetCol = "grp_offset", maxKeyBits = 46)
    val wIn = Window.partitionBy(col("grp")).orderBy(col("shuffle_pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val docOff = slim.join(offsets, Seq("grp"))
      .withColumn("doc_offset",
        col("grp_offset") + coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .select(col("doc_id"), col("doc_offset"), col("n_tokens"))
    // each doc overlaps windows doc_offset div W .. (doc_offset+n-1) div W;
    // emit one token-slice fragment per overlap, keyed by its global start
    val frags = docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .join(docOff, Seq("doc_id"))
      .select(col("toks"), col("doc_offset"), col("n_tokens"),
        explode(sequence(expr(s"doc_offset div $W"),
          expr(s"(doc_offset + n_tokens - 1) div $W"))).as("window_id"))
      .withColumn("frag_start",
        greatest(col("window_id") * W, col("doc_offset")))
      .withColumn("frag_len",
        (least((col("window_id") + 1) * W, col("doc_offset") + col("n_tokens"))
          - col("frag_start")))
      .select(col("window_id"), col("frag_start"), col("frag_len"),
        slice(col("toks"),
          (col("frag_start") - col("doc_offset") + 1).cast("int"),
          col("frag_len").cast("int")).as("frag_toks"))
    // pin the fragment rows on window_id BEFORE the reassembly aggregate:
    // collect_list partials don't combine (the same fragment rows ship
    // either way), so the satisfied-distribution plan skips the map-side
    // partial entirely and the CPU-dense reassembly (collect + sort +
    // flatten + concat) runs at the shuffle parallelism instead of inside
    // the scan-side task layout
    Tables.spread(frags, col("window_id"))
      .groupBy(col("window_id"))
      .agg(sum(col("frag_len")).as("n_tokens"),
        // .getField on the sorted struct array is GetArrayStructFields —
        // native codegen — where the equivalent higher-order transform
        // lambda is a CodegenFallback evaluated per window (measured
        // ~15 s summed task time at sf0.1 in this one stage)
        concat_ws(" ", flatten(
          array_sort(collect_list(struct(col("frag_start"), col("frag_toks"))))
            .getField("frag_toks"))).as("text"))
      .orderBy(col("window_id"))
  }

  /** The oracle ranks with one flat window — affordable at oracle scale,
    * a true independent check of the bucketed decomposition.
    */
  val qShuffle = GraftQuery(
    "q67_corpus_shuffle",
    (s, dir) => shuffleOrder(Tables.documents(s, dir), seed = 42L),
    Some("""
      SELECT doc_id,
             CAST(row_number() OVER (
               ORDER BY md5(concat('42:', CAST(doc_id AS VARCHAR))), doc_id) - 1
               AS BIGINT) AS shuffle_pos
      FROM documents
      ORDER BY doc_id"""))

  val qTrainingWindows = GraftQuery(
    "q68_training_windows",
    (s, dir) => trainingWindows(Tables.documents(s, dir), seed = 42L,
      windowTokens = 32),
    Some("""
      WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                 FROM documents),
      ord AS (SELECT doc_id, row_number() OVER (
                ORDER BY md5(concat('42:', CAST(doc_id AS VARCHAR))), doc_id) - 1
                AS rn
              FROM documents),
      off AS (SELECT t.doc_id AS doc_id, toks,
                CAST(coalesce(sum(len(toks)) OVER (ORDER BY rn
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                  AS doc_offset
              FROM t JOIN ord ON t.doc_id = ord.doc_id),
      tok AS (
        -- zipped unnest, not a per-position slice of the captured list:
        -- list_transform(generate_series, i -> toks[i]) re-materializes
        -- the whole list per element — O(tokens^2) per doc (the round-15
        -- maxlen-sweep hang class, see q61's oracle)
        SELECT doc_offset + unnest(generate_series(1, len(toks))) - 1 AS gpos,
               unnest(toks) AS tok
        FROM off)
      SELECT CAST(gpos // 32 AS BIGINT) AS window_id, count(*) AS n_tokens,
             string_agg(tok, ' ' ORDER BY gpos) AS text
      FROM tok GROUP BY 1 ORDER BY window_id"""))

  /** Per-source adaptive quota (the Common-Crawl-style domain cap): keep
    * each source's top documents ranked by (n_chars DESC, doc_id), capped
    * at max(minCap, floor(sqrt(n_source))) — a sublinear share, so no
    * single domain dominates the training mix while small sources keep a
    * floor.
    *
    * ONE shuffle on source: both window passes (rank and group count)
    * share the partitioning, and the cap is computed per row from the
    * windowed count — no second aggregate, no join. At web scale the
    * source key is the classic skew candidate; the [[relational.SkewTools]]
    * salting pattern applies when one domain is a constant fraction of the
    * corpus (the cap itself then bounds the kept output regardless).
    */
  def sourceCaps(docs: DataFrame, minCap: Int): DataFrame = {
    require(minCap >= 1, s"minCap must be >= 1, got $minCap")
    val byLen = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n_chars").desc, col("doc_id"))
    val whole = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    docs.select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rn", row_number().over(byLen).cast("long"))
      .withColumn("cap",
        greatest(lit(minCap.toLong),
          floor(sqrt(count(lit(1)).over(whole)))))
      .filter(col("rn") <= col("cap"))
      .orderBy(col("source"), col("rn"))
  }

  val qSourceCaps = GraftQuery(
    "q112_source_caps",
    (s, dir) => sourceCaps(Tables.documents(s, dir), minCap = 5),
    Some("""
      WITH r AS (
        SELECT source, doc_id, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS rn,
               count(*) OVER (PARTITION BY source) AS n_docs
        FROM documents)
      SELECT source, doc_id, n_chars, rn,
             greatest(CAST(5 AS BIGINT), CAST(floor(sqrt(n_docs)) AS BIGINT)) AS cap
      FROM r
      WHERE rn <= greatest(CAST(5 AS BIGINT), CAST(floor(sqrt(n_docs)) AS BIGINT))
      ORDER BY source, rn"""))

  val queries: Seq[GraftQuery] =
    Seq(qChunk, qRarity, qPack, qShuffle, qTrainingWindows, qSourceCaps)
}
