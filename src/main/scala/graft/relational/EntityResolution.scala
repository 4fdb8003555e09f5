package graft.relational

import graft.{GraftQuery, Tables}
import graft.plans.SimJoin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end entity resolution: blocking → pairwise Jaro-Winkler match →
  * transitive closure → golden record per resolved entity. The composite
  * every master-data / catalog-dedup pipeline runs, assembled from the
  * engine's own primitives (the q105/q150 blocking shape, the native
  * [[graft.text.JaroWinkler]] kernel, and the alternating-star connected
  * components from the dedup family).
  *
  * Scale shape: candidate pairs are block-bounded AND occupancy-capped —
  * a (last-name-token, brand) block holding more than [[MaxBlockNames]]
  * distinct names is split into `ceil(blk_n / cap)` sub-blocks by a
  * deterministic hash of the name, so per-block candidate pairs are
  * O(blk_n · cap) instead of O(blk_n²). This is the same hot-bucket
  * guardrail the LSH family applies ([[SimJoin.blockPairs]]' cap),
  * adapted to resolution semantics: DROPPING an oversized block would
  * silently un-resolve every record in it, whereas sub-blocking keeps
  * exact duplicates together unconditionally (equal names hash to the
  * same sub-block) and only trades away near-miss recall BETWEEN
  * sub-blocks of a pathological block — the documented, bounded cost of
  * surviving a corpus where one name token dominates. The r12 scale
  * post-mortem (SCALE.md) measured the uncapped failure mode: a 10×-
  * stacked block produced 101× candidate pairs.
  *
  * Record pairs never materialize all-pairs-in-block either: the sub-block
  * is one of [[SimJoin.pairs]]' block keys, so records join the
  * (already JW-verified) name-pair list by name and the join output IS the
  * edge list.
  *
  * The closure is the O(log n)-round large/small-star loop with per-round
  * localCheckpoint — identical machinery to q51, which the 100 TB audit
  * already cleared. A record's block key is a function of its own row, so
  * components never span blocks and stay catalog-constant.
  */
object EntityResolution {

  /** Max distinct names compared against each other within one block.
    * Oversized blocks split into ceil(n/cap) hash sub-blocks, bounding
    * candidate name pairs per block to ~n·cap (linear in block size).
    */
  val MaxBlockNames = 64

  /** First 15 hex chars of md5 as a base-16 long — [[graft.text.Md5P61]]'s
    * `base`, expressed with codegen'd builtins so the DuckDB oracle can
    * compute the identical sub-block assignment ([[graft.text.Md5P61.duckBase]]).
    */
  private def md5Base(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** The blocking keys: (last-name-token, brand) plus the sub-block id. */
  private[relational] val Keys: Seq[String] = SimJoin.PartKeys :+ "sub"

  /** [[SimJoin.partRecords]] with the sub-block id: 0 for every record in
    * a block of at most `cap` distinct names; a deterministic md5-hash
    * bucket in [0, ceil(blk_n/cap)) for oversized blocks. Equal names
    * always share a sub-block (the hash is a function of the name alone),
    * so exact duplicates can never be split apart.
    */
  private[relational] def subBlocked(p: DataFrame, cap: Int): DataFrame = {
    // Pin the distinct's exchange on the block key: its output bytes are
    // small, so AQE would coalesce the distinct and the block count fused
    // behind it into one task (measured 1.5 s single-task at 10x bench
    // scale). REPARTITION_BY_NUM satisfies both aggregates' required
    // distribution at the session's parallelism and is exempt from
    // coalescing.
    val bn = Tables.spread(p.select(col("blk_tok"), col("blk_brand"), col("p_name")),
        col("blk_tok"), col("blk_brand"))
      .distinct()
      .groupBy(col("blk_tok"), col("blk_brand"))
      .agg(count(lit(1)).as("blk_n"))
    p.join(bn, SimJoin.PartKeys)
      .select(col("blk_tok"), col("blk_brand"),
        pmod(md5Base(col("p_name")), expr(s"(blk_n + ${cap - 1}) div $cap")).as("sub"),
        col("p_partkey"), col("p_name"))
  }

  /** Record match edges (src < dst): same (block, sub-block) AND equal
    * names or Jaro-Winkler ≥ minSim — equal names match trivially
    * (similarity 1), so exact duplicates and near-misses resolve through
    * the same path. Per block the candidate name pairs are Σ sub² ≤
    * ~blk_n · cap — the capped quantity the adversarial spec pins.
    */
  private[relational] def edges(p: DataFrame, minSim: Double, cap: Int): DataFrame =
    SimJoin.pairs(subBlocked(p, cap), Keys,
        prune = lit(true),
        score = graft.text.JaroWinkler.jaroWinkler(col("name_a"), col("name_b")).as("jw"),
        keep = col("name_a") === col("name_b") || col("jw") >= minSim)
      .select(col("key_a").as("src"), col("key_b").as("dst"))

  /** Resolved entities over part: (entity_id = min member key, n_members,
    * n_names, golden_name = the entity_id member's name).
    */
  def resolveEntities(part: DataFrame, minSim: Double,
                      maxBlockNames: Int = MaxBlockNames): DataFrame = {
    require(minSim > 0.0 && minSim <= 1.0, s"minSim in (0,1], got $minSim")
    require(maxBlockNames >= 1, s"maxBlockNames must be >= 1, got $maxBlockNames")
    val p = SimJoin.partRecords(part)
    val edges = this.edges(p, minSim, maxBlockNames)
    val cc = graft.text.TextDedup.connectedComponents(
      p.select(col("p_partkey").as("doc_id")), edges)
    cc.join(p.select(col("p_partkey").as("doc_id"), col("p_name")), Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n_members"),
        count_distinct(col("p_name")).as("n_names"),
        max(when(col("doc_id") === col("cluster_id"), col("p_name"))).as("golden_name"))
      .select(col("cluster_id").as("entity_id"), col("n_members"),
        col("n_names"), col("golden_name"))
      .orderBy(col("entity_id"))
  }

  /** Oracle: the engine's plan transliterated — block, sub-block split
    * (same md5-derived hash via [[graft.text.Md5P61.duckBase]]), JW over
    * in-sub-block name pairs, record pairs by name join, recursive
    * closure, golden-record aggregate.
    */
  private[relational] def duckSql(minSim: Double, cap: Int): String = {
    val sub = s"${graft.text.Md5P61.duckBase("n.p_name")} % ((bn.blk_n + ${cap - 1}) // $cap)"
    s"""
      WITH RECURSIVE p AS MATERIALIZED (
        SELECT string_split(p_name, ' ')[-1] AS blk_tok, p_brand AS blk_brand,
               p_partkey, p_name
        FROM part),
      names AS (
        SELECT DISTINCT blk_tok, blk_brand, p_name FROM p),
      bn AS (
        SELECT blk_tok, blk_brand, count(*) AS blk_n
        FROM names GROUP BY 1, 2),
      nsub AS MATERIALIZED (
        SELECT n.blk_tok, n.blk_brand, n.p_name, $sub AS sub
        FROM names n JOIN bn USING (blk_tok, blk_brand)),
      sim AS MATERIALIZED (
        SELECT a.blk_tok, a.blk_brand, a.p_name AS name_a, b.p_name AS name_b
        FROM nsub a JOIN nsub b
          ON a.blk_tok = b.blk_tok AND a.blk_brand = b.blk_brand
         AND a.sub = b.sub
        WHERE a.p_name = b.p_name
           OR jaro_winkler_similarity(a.p_name, b.p_name) >= $minSim),
      edges AS (
        SELECT ra.p_partkey AS src, rb.p_partkey AS dst
        FROM sim s
        JOIN p ra ON ra.blk_tok = s.blk_tok AND ra.blk_brand = s.blk_brand
                 AND ra.p_name = s.name_a
        JOIN p rb ON rb.blk_tok = s.blk_tok AND rb.blk_brand = s.blk_brand
                 AND rb.p_name = s.name_b
        WHERE ra.p_partkey < rb.p_partkey),
      sym AS (SELECT src AS u, dst AS v FROM edges
              UNION SELECT dst AS u, src AS v FROM edges),
      reach AS (
        SELECT u, v FROM sym
        UNION
        SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u),
      labels AS (SELECT u AS id, min(v) AS mn FROM reach GROUP BY u),
      comp AS (
        SELECT p.p_partkey AS id, p.p_name,
               CASE WHEN l.mn IS NULL OR l.mn > p.p_partkey THEN p.p_partkey
                    ELSE l.mn END AS entity_id
        FROM p LEFT JOIN labels l ON p.p_partkey = l.id)
      SELECT c.entity_id,
             count(*) AS n_members,
             count(DISTINCT c.p_name) AS n_names,
             max(CASE WHEN c.id = c.entity_id THEN c.p_name END) AS golden_name
      FROM comp c
      GROUP BY c.entity_id
      ORDER BY c.entity_id"""
  }

  // ---- queries -------------------------------------------------------------

  val qEntities = GraftQuery(
    "q157_entity_resolution",
    (s, dir) => resolveEntities(Tables.part(s, dir), minSim = 0.95),
    Some(duckSql(minSim = 0.95, cap = MaxBlockNames)))

  val queries: Seq[GraftQuery] = Seq(qEntities)
}
