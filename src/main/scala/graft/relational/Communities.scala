package graft.relational

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (Raghavan et al.
  * 2007) — the fourth graph operator: each node repeatedly adopts the
  * label carrying the highest incident edge weight among its neighbors
  * (ties to the smallest label), a fixed number of rounds. Weighted-modular
  * structure emerges without any global objective.
  *
  * Everything is integer arithmetic — labels are node ids, scores are
  * weight sums — so synchronous updates with a deterministic tie-break are
  * bit-reproducible at any partitioning with NO rounding machinery, and
  * the oracle unrolls the rounds as CTE stages generated from the same
  * loop (the q93 idiom).
  *
  * Scale shape per round: one edges⋈labels equi-join on src, one
  * (node, label) weight aggregate, one per-node argmax AGGREGATE
  * (min(struct(-s, label)) — max weight then smallest label). No window
  * anywhere: both aggregates partial-combine map-side, so a hot node
  * costs its distinct neighbor-label count with no per-node sort.
  */
object Communities {

  val Iters = 3

  /** edges: (src, dst, w) directed — pass both directions for undirected.
    * Returns (node, community).
    */
  def labelPropagation(edges: DataFrame, iters: Int = Iters): DataFrame = {
    require(iters >= 1 && iters <= 10, s"iters must be in [1, 10], got $iters")
    // Persist the derived edge set once and cut per-round lineage
    // (TextDedup.connectedComponents pattern) — otherwise round k's plan
    // re-executes rounds 1..k-1 plus the upstream graph construction.
    // LAZY: e is re-read every round but each round references its
    // predecessor exactly once, so the unrolled loop is a linear plan and
    // the whole run is ONE job — the eager per-round checkpoints paid a
    // scheduling round-trip per round (the r16 scheduling-floor finding).
    val e = edges.localCheckpoint(eager = false)
    // Exchange layout per round (the r18 quantile-family pin, LPA-shaped):
    // one REPARTITION_BY_NUM on dst satisfies BOTH aggregates — the
    // (dst, label) weight sum (dst ⊂ (dst, label) clusters it) and the
    // per-node argmax (HashAggregate is alias-aware, so hash(dst) flows
    // through as hash(node)) — where the default plan ran two exchanges,
    // hash(dst, label) then hash(node), per round. The pin trades the
    // weight sum's map-side partial for the saved exchange: the join
    // output is partitioned by src, so a dst's edges are scattered across
    // map partitions and the partial combines little (only same-partition
    // parallel edges); the argmax exchange it retires carried the full
    // per-(node, label) table either way.
    // Round 1 fused into graph construction: with labels0 = identity the
    // first edges⋈labels join is a no-op (label ≡ src), so round 1
    // collapses to a per-(dst, src) weight sum (parallel edges combine,
    // matching the join form on multigraphs) + an argmax aggregate —
    // min(struct(-s, label)) = (max weight, then smallest neighbor), the
    // same (s DESC, label ASC) order the windowed rounds use.
    var labels = Tables.spread(e, col("dst"))
      .groupBy(col("dst").as("node"), col("src").as("label"))
      .agg(sum(col("w")).as("s"))
      .groupBy(col("node"))
      .agg(min(struct((-col("s")).as("ns"), col("label"))).as("m"))
      .select(col("node"), col("m.label").as("label"))
      .localCheckpoint(eager = false)
    // Rounds 2..k: the round-1 argmax-aggregate shape generalizes — after
    // the edges⋈labels join, min(struct(-s, label)) replaces the
    // row_number window, trading the per-node sort exchange for a second
    // map-side-combinable aggregate (join + two-stage agg per round, no
    // window anywhere in the operator).
    (2 to iters).foreach { _ =>
      labels = Tables.spread(
          e.join(labels.select(col("node").as("src"), col("label")), Seq("src")),
          col("dst"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(sum(col("w")).as("s"))
        .groupBy(col("node"))
        .agg(min(struct((-col("s")).as("ns"), col("label"))).as("m"))
        .select(col("node"), col("m.label").as("label"))
        .localCheckpoint(eager = false) // O(nodes) rows
    }
    labels.select(col("node"), col("label").as("community"))
      .orderBy(col("node"))
  }

  /** Oracle rounds, generated from the same loop. */
  private def duckIters(iters: Int): String =
    (1 to iters).map { i =>
      s"""lab$i AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT e.dst AS node, p.label,
         |           sum(e.w) AS s,
         |           row_number() OVER (PARTITION BY e.dst
         |             ORDER BY sum(e.w) DESC, p.label) AS rn
         |    FROM edges e JOIN lab${i - 1} p ON e.src = p.node
         |    GROUP BY e.dst, p.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  // ---- queries -------------------------------------------------------------

  /** q95: communities of the q87 co-purchase graph. */
  val qCommunities = GraftQuery(
    "q95_communities",
    (s, dir) => labelPropagation(
      Basket.copurchaseEdges(Tables.lineitem(s, dir), minSupport = 2)),
    Some(s"""
      WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      pairs AS MATERIALIZED (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS w
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2),
      edges AS MATERIALIZED (
        SELECT pa AS src, pb AS dst, w FROM pairs
        UNION ALL SELECT pb, pa, w FROM pairs),
      lab0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM edges),
      ${duckIters(Iters)}
      SELECT node, label AS community FROM lab$Iters ORDER BY node"""))

  val queries: Seq[GraftQuery] = Seq(qCommunities)
}
