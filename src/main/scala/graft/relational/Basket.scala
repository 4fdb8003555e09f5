package graft.relational

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket co-occurrence: pairs of parts appearing in the same order,
  * with support counts — the candidate-generation step of association-rule
  * mining (and the bipartite-projection primitive behind "customers who
  * bought X also bought Y").
  *
  * Scale shape: baskets are assembled with ONE orderkey shuffle and pairs
  * expand IN-ROW from each basket's sorted parts array, so the expansion
  * per order is bounded by basket size squared — a data-model constant
  * (TPC-H ≤ 7 lineitems/order; retail baskets tens) — never a corpus-size
  * term. The (a, b) count aggregate is map-side combinable and its output
  * is the co-occurrence matrix itself. The ascending array keeps each
  * unordered pair once (a < b).
  */
object Basket {

  /** One basket row per order: the order's DISTINCT parts, ascending —
    * `collect_set` dedups repeat purchases of a part inside the basket
    * (one membership, not several) and the in-group set is bounded by
    * basket size, a data-model constant.
    */
  private def baskets(lineitem: DataFrame): DataFrame =
    // the stage AFTER the orderkey exchange is CPU-dense per byte
    // (set assembly + the size²/2 in-row pair expansion + the pair
    // count's partial aggregate all fuse into it), which AQE's
    // byte-based coalescing folds to a handful of tasks — the q129
    // rule: pin compute-bound exchanges at the parallelism knob,
    // leave byte-bound ones to AQE. The explicit repartition on the
    // group key satisfies the aggregate's required distribution, so
    // no extra exchange is added.
    Tables.spread(lineitem.select(col("l_orderkey"), col("l_partkey")),
        col("l_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))

  /** All a<b pairs of a sorted parts array, expanded IN-ROW (no join):
    * element i pairs with every later element. Fan-out per basket is
    * size²/2 — bounded by the basket-size constant, never a corpus term.
    *
    * Two chained generators (posexplode, then explode of the tail slice)
    * rather than the nested higher-order `transform` + `flatten` form:
    * lambda functions are CodegenFallback expressions, so the old form
    * dropped the whole expansion out of codegen and built a nested
    * array-of-struct per row before exploding — measured ~2× the CPU of
    * this stage at sf0.1 for identical output.
    */
  private def basketPairs(b: DataFrame): DataFrame =
    b.select(col("parts"), posexplode(col("parts")).as(Seq("i", "part_a")))
      .select(col("part_a"),
        explode(slice(col("parts"), col("i") + lit(2), size(col("parts"))))
          .as("part_b"))

  /** Unordered co-purchase pairs — the graph-construction form. The graph
    * operators (q93-q95, q106) consume this and `localCheckpoint` it, so a
    * presentation sort here would be materialized as a real range shuffle
    * the consumer never needed; output order is left to the caller.
    *
    * Plan shape: ONE basket-assembly shuffle + the pair aggregate. The
    * previous distinct + orderkey self-join form computed the same rows
    * through four exchanges (distinct, two join re-shuffles, aggregate)
    * — measured 4× slower at sf0.1 and strictly worse at scale, where
    * each extra exchange is a full repartition of the corpus.
    */
  def copurchasePairsUnsorted(lineitem: DataFrame, minSupport: Long): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    basketPairs(baskets(lineitem))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }

  def copurchasePairs(lineitem: DataFrame, minSupport: Long): DataFrame =
    copurchasePairsUnsorted(lineitem, minSupport)
      .orderBy(col("support").desc, col("part_a"), col("part_b"))

  /** The symmetric weighted edge list (src, dst, w) of the co-purchase
    * graph — the shared upstream of the graph operators (q93 PageRank,
    * q95 label propagation, q106 BFS). Symmetrized IN-ROW (explode of a
    * 2-struct array), not via `pairs UNION ALL pairs`: a self-union
    * re-evaluates the whole basket self-join + pair aggregate once per
    * branch (the alsoBought finding, measured ~2× the query), the explode
    * reads each aggregated pair row once.
    */
  def copurchaseEdges(lineitem: DataFrame, minSupport: Long): DataFrame =
    copurchasePairsUnsorted(lineitem, minSupport)
      .select(explode(array(
        struct(col("part_a").as("src"), col("part_b").as("dst"),
          col("support").as("w")),
        struct(col("part_b").as("src"), col("part_a").as("dst"),
          col("support").as("w")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))

  // ---- queries -------------------------------------------------------------

  val qCopurchase = GraftQuery(
    "q87_copurchase",
    (s, dir) => copurchasePairs(Tables.lineitem(s, dir), minSupport = 2),
    Some("""
      WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS support
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY part_a, part_b
      HAVING count(*) >= 2
      ORDER BY support DESC, part_a, part_b"""))

  /** Top-k recommendations per item ("customers also bought"): the
    * symmetric co-purchase neighbors of each part ranked by support with
    * a deterministic (support DESC, neighbor ASC) tie-break — the
    * serving table an item-to-item recommender precomputes.
    *
    * Scale shape: the q87 pair aggregate is the only corpus-scale work;
    * the rank window partitions on the item over its own neighbor rows
    * (bounded by the item's co-purchase degree, never corpus size), and
    * WindowGroupLimit pushes the rn <= k filter below the sort.
    */
  def alsoBought(lineitem: DataFrame, minSupport: Long, k: Int): DataFrame = {
    require(k >= 1, s"alsoBought needs k >= 1, got $k")
    val pairs = copurchasePairsUnsorted(lineitem, minSupport)
    // symmetrize IN-ROW (explode of a 2-struct array), not via
    // pairs UNION pairs: a self-union re-evaluates the whole pair
    // aggregate per branch (measured ~2× the query), the explode reads
    // each pair row once
    val sym = pairs
      .select(explode(array(
        struct(col("part_a").as("item"), col("part_b").as("rec"), col("support")),
        struct(col("part_b").as("item"), col("part_a").as("rec"), col("support"))))
        .as("e"))
      .select(col("e.item").as("item"), col("e.rec").as("rec"),
        col("e.support").as("support"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item")).orderBy(col("support").desc, col("rec"))
    sym.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("item"), col("rank"))
  }

  val qAlsoBought = GraftQuery(
    "q138_also_bought",
    (s, dir) => alsoBought(Tables.lineitem(s, dir), minSupport = 2, k = 3),
    Some("""
      WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS support
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY part_a, part_b
        HAVING count(*) >= 2),
      sym AS (
        SELECT part_a AS item, part_b AS rec, support FROM pairs
        UNION ALL
        SELECT part_b AS item, part_a AS rec, support FROM pairs),
      ranked AS (
        SELECT item, rec, CAST(support AS BIGINT) AS support,
               CAST(row_number() OVER (PARTITION BY item
                 ORDER BY support DESC, rec) AS INT) AS rank
        FROM sym)
      SELECT item, rec, support, rank
      FROM ranked WHERE rank <= 3
      ORDER BY item, rank"""))

  /** Association-rule lift for co-purchase pairs:
    * lift(A,B) = P(A,B) / (P(A)·P(B)) over baskets — >1 means the pair
    * attracts, <1 repels; the score that separates "popular with
    * everything" from "actually bought together".
    *
    * Scale shape: q87's pair aggregate + one per-part basket-count
    * aggregate joined in twice (slim key+count projections, AQE
    * broadcasts them), one 1-row basket total. Every probability
    * divides exact BIGINTs, so lift is engine-identical.
    */
  def pairLift(lineitem: DataFrame, minSupport: Long): DataFrame = {
    val b = baskets(lineitem)
      .localCheckpoint() // referenced three times (pairs + margin + total)
    val pairs = basketPairs(b)
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    val perPart = b.select(explode(col("parts")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_part"))
    val totals = b.agg(count(lit(1)).as("n_baskets"))
    pairs
      .join(perPart.select(col("l_partkey").as("part_a"),
        col("n_part").as("n_a")), Seq("part_a"))
      .join(perPart.select(col("l_partkey").as("part_b"),
        col("n_part").as("n_b")), Seq("part_b"))
      .crossJoin(broadcast(totals))
      .select(col("part_a"), col("part_b"), col("support"),
        ((col("support").cast("double") * col("n_baskets").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
      .orderBy(col("part_a"), col("part_b"))
  }

  val qPairLift = GraftQuery(
    "q146_pair_lift",
    (s, dir) => pairLift(Tables.lineitem(s, dir), minSupport = 3),
    // staged single-join CTEs + scalar-subquery total: with the margin
    // joins in one SELECT plus a CROSS JOIN, DuckDB's reorderer — misled
    // by the HAVING's ~0-row estimate for pairs — probed the pairs hash
    // table with per_part x per_part x totals as a CROSS_PRODUCT (4e12
    // rows at sf10). One join per materialized stage leaves no reorder
    // space; the double op tree is unchanged.
    Some("""
      WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      pairs AS MATERIALIZED (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS support
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY part_a, part_b
        HAVING count(*) >= 3),
      per_part AS MATERIALIZED (SELECT l_partkey, count(*) AS n_part FROM items GROUP BY l_partkey),
      totals AS MATERIALIZED (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM items),
      j1 AS MATERIALIZED (
        SELECT p.part_a, p.part_b, p.support, pa.n_part AS n_a
        FROM pairs p
        JOIN per_part pa ON p.part_a = pa.l_partkey)
      SELECT j.part_a, j.part_b, CAST(j.support AS BIGINT) AS support,
             (CAST(j.support AS DOUBLE) * CAST((SELECT n_baskets FROM totals) AS DOUBLE)) /
               (CAST(j.n_a AS DOUBLE) * CAST(pb.n_part AS DOUBLE)) AS lift
      FROM j1 j
      JOIN per_part pb ON j.part_b = pb.l_partkey
      ORDER BY part_a, part_b"""))

  /** Full directed association rules A→B over co-purchase pairs:
    * confidence = P(B|A), lift, and conviction = (1−P(B))/(1−conf) —
    * the complete rule-mining metric set (conviction separates
    * "confident because B is everywhere" from real implication; it is
    * null for exact rules, where the denominator vanishes).
    *
    * Scale shape: identical to [[pairLift]] (one pair aggregate + slim
    * margin joins + a 1-row total); the symmetric expansion to directed
    * rules doubles only the O(pairs) aggregate, never basket rows.
    * Probabilities divide exact BIGINTs in a fixed order, so every
    * metric is engine-identical.
    */
  def assocRules(lineitem: DataFrame, minSupport: Long): DataFrame = {
    val b = baskets(lineitem)
      .localCheckpoint() // referenced three times (pairs + margin + total)
    val pairs = basketPairs(b)
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    // in-row symmetrize (see alsoBought): one pass over the pair rows
    val sym = pairs
      .select(explode(array(
        struct(col("part_a").as("antecedent"), col("part_b").as("consequent"),
          col("support")),
        struct(col("part_b").as("antecedent"), col("part_a").as("consequent"),
          col("support")))).as("e"))
      .select(col("e.antecedent").as("antecedent"),
        col("e.consequent").as("consequent"), col("e.support").as("support"))
    val perPart = b.select(explode(col("parts")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_part"))
    val totals = b.agg(count(lit(1)).as("n_baskets"))
    val conf = col("support").cast("double") / col("n_a").cast("double")
    val pB = col("n_c").cast("double") / col("n_baskets").cast("double")
    sym
      .join(perPart.select(col("l_partkey").as("antecedent"),
        col("n_part").as("n_a")), Seq("antecedent"))
      .join(perPart.select(col("l_partkey").as("consequent"),
        col("n_part").as("n_c")), Seq("consequent"))
      .crossJoin(broadcast(totals))
      .select(col("antecedent"), col("consequent"), col("support"),
        GraftQuery.duckRound(conf, 6).as("confidence"),
        GraftQuery.duckRound((col("support").cast("double") * col("n_baskets").cast("double")) /
          (col("n_a").cast("double") * col("n_c").cast("double")), 6).as("lift"),
        when(col("support") === col("n_a"), lit(null).cast("double"))
          .otherwise(GraftQuery.duckRound((lit(1.0) - pB) / (lit(1.0) - conf), 6))
          .as("conviction"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  val qAssocRules = GraftQuery(
    "q176_assoc_rules",
    (s, dir) => assocRules(Tables.lineitem(s, dir), minSupport = 3),
    // staged single-join CTEs + scalar-subquery total — same reorderer
    // cross-product hazard (and fix) as qPairLift above
    Some(s"""
      WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      pairs AS MATERIALIZED (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS support
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY part_a, part_b
        HAVING count(*) >= 3),
      sym AS MATERIALIZED (
        SELECT part_a AS antecedent, part_b AS consequent, support FROM pairs
        UNION ALL
        SELECT part_b, part_a, support FROM pairs),
      per_part AS MATERIALIZED (SELECT l_partkey, count(*) AS n_part FROM items
                   GROUP BY l_partkey),
      totals AS MATERIALIZED (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM items),
      j1 AS MATERIALIZED (
        SELECT s.antecedent, s.consequent, s.support, pa.n_part AS n_a
        FROM sym s
        JOIN per_part pa ON s.antecedent = pa.l_partkey)
      SELECT j.antecedent, j.consequent, CAST(j.support AS BIGINT) AS support,
             round(CAST(j.support AS DOUBLE) / CAST(j.n_a AS DOUBLE), 6)
               AS confidence,
             round((CAST(j.support AS DOUBLE) * CAST((SELECT n_baskets FROM totals) AS DOUBLE))
                   / (CAST(j.n_a AS DOUBLE) * CAST(pc.n_part AS DOUBLE)), 6)
               AS lift,
             CASE WHEN j.support = j.n_a THEN NULL
                  ELSE round((1.0 - CAST(pc.n_part AS DOUBLE)
                                / CAST((SELECT n_baskets FROM totals) AS DOUBLE))
                             / (1.0 - CAST(j.support AS DOUBLE)
                                / CAST(j.n_a AS DOUBLE)), 6)
             END AS conviction
      FROM j1 j
      JOIN per_part pc ON j.consequent = pc.l_partkey
      ORDER BY antecedent, consequent"""))

  val queries: Seq[GraftQuery] =
    Seq(qCopurchase, qAlsoBought, qPairLift, qAssocRules)
}
