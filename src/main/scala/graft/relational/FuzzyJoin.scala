package graft.relational

import graft.{GraftQuery, Tables}
import graft.plans.SimJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Blocked fuzzy join (record linkage): near-matching names via edit
  * distance, with a BLOCKING key so the candidate set is never all-pairs.
  *
  * Scale shape: fuzzy matching is inherently quadratic per block — the
  * design lever is block granularity. Blocking on (last name token, brand)
  * bounds each block at catalog-constant size; the block → distinct names
  * → self-join → join-back plumbing is [[SimJoin.pairs]], shared with
  * q157. All-pairs levenshtein — the naive shape — is banned by
  * construction, not by configuration.
  */
object FuzzyJoin {

  /** Near-duplicate (a, b) name pairs within (last-token, brand) blocks,
    * edit distance ≤ maxDist, each unordered pair once (key_a < key_b).
    *
    * A cheap length-difference guard prunes before the kernel (edit
    * distance ≥ length difference, so the guard is exact, not a
    * heuristic), and the threshold form of the kernel — the banded DP
    * early-exits (returns -1) once the minimum exceeds maxDist — is
    * O(maxDist·len), not O(len²).
    */
  def blockedFuzzyPairs(part: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    SimJoin.pairs(SimJoin.partRecords(part), SimJoin.PartKeys,
        prune = abs(length(col("name_a")) - length(col("name_b"))) <= maxDist,
        score = levenshtein(col("name_a"), col("name_b"), maxDist).as("dist"),
        keep = col("dist") >= 0)
      .select(col("key_a"), col("key_b"), col("name_a"), col("name_b"), col("dist"))
      .orderBy(col("key_a"), col("key_b"))
  }

  /** Near-but-not-exact name matches by Jaro-Winkler similarity ≥ minSim,
    * same blocking scheme as [[blockedFuzzyPairs]]. Exact duplicates are
    * excluded — the linkage-review shape: "names that look like the same
    * entity but don't string-match".
    *
    * The kernel is the native codegen'd [[graft.text.JaroWinkler]]
    * expression (semantics differentially pinned to DuckDB's
    * `jaro_winkler_similarity`).
    */
  def jaroWinklerPairs(part: DataFrame, minSim: Double): DataFrame = {
    require(minSim > 0.0 && minSim <= 1.0, s"minSim in (0,1], got $minSim")
    // EXACT length-ratio prune ahead of the kernel (the q105 length-guard
    // idea, JW-shaped): with prefix scale p=0.1 and prefix cap 4,
    // JW <= 0.6·J + 0.4, and Jaro's match count m <= min(|a|,|b|) gives
    // J <= (2 + min/max)/3 — so JW >= s forces min/max >= 3·(s−0.4)/0.6 − 2.
    // At s=0.95 that is min/max >= 0.75: a near-free codegen'd length
    // comparison that discards length-mismatched candidates before the
    // O(|a|·|b|) kernel (and before the distinct), with zero recall loss —
    // it is an upper-bound argument, not a heuristic. Degenerates to
    // no-op (rMin <= 0) for thresholds below 0.8.
    val rMin = 3.0 * (minSim - 0.4) / 0.6 - 2.0
    val lenOk =
      if (rMin <= 0) lit(true)
      else least(length(col("name_a")), length(col("name_b"))).cast("double") >=
        greatest(length(col("name_a")), length(col("name_b"))) * lit(rMin)
    SimJoin.pairs(SimJoin.partRecords(part), SimJoin.PartKeys,
        prune = col("name_a") =!= col("name_b") && lenOk,
        score = graft.text.JaroWinkler.jaroWinkler(col("name_a"), col("name_b")).as("jw"),
        keep = col("jw") >= minSim)
      .select(col("key_a"), col("key_b"), col("name_a"), col("name_b"),
        GraftQuery.duckRound(col("jw"), 5).as("jw"))
      .orderBy(col("key_a"), col("key_b"))
  }

  // ---- queries -------------------------------------------------------------

  val qFuzzy = GraftQuery(
    "q105_fuzzy_join",
    (s, dir) => blockedFuzzyPairs(Tables.part(s, dir), maxDist = 3),
    Some("""
      WITH p AS (
        SELECT string_split(p_name, ' ')[-1] AS blk_tok, p_brand AS blk_brand,
               p_partkey, p_name
        FROM part)
      SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
             a.p_name AS name_a, b.p_name AS name_b,
             levenshtein(a.p_name, b.p_name) AS dist
      FROM p a JOIN p b
        ON a.blk_tok = b.blk_tok AND a.blk_brand = b.blk_brand
       AND a.p_partkey < b.p_partkey
       AND abs(length(a.p_name) - length(b.p_name)) <= 3
       AND levenshtein(a.p_name, b.p_name) <= 3
      ORDER BY key_a, key_b"""))

  val qJaroWinkler = GraftQuery(
    "q150_jaro_winkler",
    (s, dir) => jaroWinklerPairs(Tables.part(s, dir), minSim = 0.95),
    Some("""
      WITH p AS (
        SELECT string_split(p_name, ' ')[-1] AS blk_tok, p_brand AS blk_brand,
               p_partkey, p_name
        FROM part)
      SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
             a.p_name AS name_a, b.p_name AS name_b,
             round(jaro_winkler_similarity(a.p_name, b.p_name), 5) AS jw
      FROM p a JOIN p b
        ON a.blk_tok = b.blk_tok AND a.blk_brand = b.blk_brand
       AND a.p_partkey < b.p_partkey
       AND a.p_name <> b.p_name
       AND jaro_winkler_similarity(a.p_name, b.p_name) >= 0.95
      ORDER BY key_a, key_b"""))

  val queries: Seq[GraftQuery] = Seq(qFuzzy, qJaroWinkler)
}
