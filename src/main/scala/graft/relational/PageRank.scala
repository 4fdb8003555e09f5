package graft.relational

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted PageRank over an edge list — the second graph operator next to
  * the q51 connected components: importance scores over the co-purchase
  * graph ("which parts anchor the catalog"), fixed iteration count.
  *
  * Determinism design: each iteration's per-edge contribution
  * pr·w/wsum is rounded to 8 dp and accumulated as DECIMAL, so the
  * per-node sum — the only place addition order could leak in — is exact
  * and partitioning-independent; everything else is scalar double
  * arithmetic evaluated in the same order in both engines. The oracle
  * unrolls the iterations as CTE stages GENERATED FROM THE SAME LOOP as
  * the Spark plan (the q83 generate-both-sides idiom).
  *
  * Scale shape per iteration: one edges⋈scores equi-join on src (scores is
  * O(nodes) — AQE picks the side), one (dst)-keyed decimal aggregate, one
  * O(nodes) left join. Symmetric edges mean no dangling-mass term. Scores
  * never leave the cluster; iteration count is a constant.
  */
object PageRank {

  val Damping = 0.85
  val Iters = 3

  /** edges: (src, dst, w) — directed; pass both directions for an
    * undirected graph. Returns (node, pagerank) with round-8 scores.
    *
    * Stage-budget design (the r16 scheduling-floor finding — at toy scale
    * these iterative rows pay Spark's per-stage floor ~30 times): the
    * per-edge share w/wsum is folded in ONCE (`ew`) instead of re-joining
    * `deg` every iteration; the node count is a driver scalar instead of a
    * per-iteration `crossJoin(broadcast(nn))` aggregate; and because each
    * iteration references its predecessor exactly once (pr appears only
    * inside contribs, contribs only inside the next pr), the unrolled loop
    * is a LINEAR plan — no per-iteration checkpoint action is needed, the
    * whole run is one job after the two upstream materializations.
    */
  def pageRank(edges: DataFrame, iters: Int = Iters, d: Double = Damping): DataFrame = {
    require(iters >= 1 && iters <= 10, s"iters must be in [1, 10], got $iters")
    require(d > 0.0 && d < 1.0, s"damping must be in (0, 1), got $d")
    // Materialize the (possibly expensive) derived edge set with the
    // degree share folded in ONCE — `ew` is referenced every iteration,
    // so without the checkpoint each round would re-execute the upstream
    // graph construction (the q51 connected-components pattern). The raw
    // edge set is referenced twice below (deg + the share join): the LAZY
    // checkpoint persists it on first use inside the ew job, so the
    // upstream still executes once without a separate materialization job.
    val e = edges.localCheckpoint(eager = false)
    val deg = e.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
    // ew and nodes checkpoint LAZILY: the node-count probe right below is
    // the first action, so one job materializes the whole upstream chain
    // (edge build → ew → nodes) instead of three scheduling round-trips
    // (eager ew job + eager nodes job + count job)
    val ew = e.join(deg, Seq("src"))
      .select(col("src"), col("dst"), (col("w") / col("wsum")).as("frac"))
      .localCheckpoint(eager = false)
    val nodes = ew.select(col("src").as("node")).distinct()
      .localCheckpoint(eager = false)
    val n = nodes.count() // O(1) scalar off the checkpointed node set
    var pr = nodes.select(col("node"), lit(1.0 / n).as("pr"))
    (1 to iters).foreach { _ =>
      val contribs = ew
        .join(pr, col("src") === col("node"))
        .select(col("dst"),
          GraftQuery.duckRound(col("pr") * col("frac"), 8).cast("decimal(28,8)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("c"))
      pr = nodes
        .join(contribs, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit((1.0 - d) / n) +
            lit(d) * coalesce(col("c"), lit(0).cast("decimal(28,8)"))
              .cast("double")).as("pr"))
    }
    pr.select(col("node"), GraftQuery.duckRound(col("pr"), 8).as("pagerank"))
      .orderBy(col("node"))
  }

  /** The oracle's iteration CTEs, generated from the same loop. The
    * per-edge share is pre-folded into `ew` exactly as the Spark plan
    * does, so the per-iteration arithmetic — round(pr · frac, 8)
    * accumulated as DECIMAL — is the same op tree in both engines.
    */
  private def duckIters(iters: Int, d: Double): String =
    (1 to iters).map { i =>
      s"""pr$i AS MATERIALIZED (
         |  SELECT n0.node,
         |         CAST(${1.0 - d} AS DOUBLE) / nn.n
         |           + CAST($d AS DOUBLE) * CAST(coalesce(s.c, 0) AS DOUBLE) AS pr
         |  FROM nodes n0 CROSS JOIN nn
         |  LEFT JOIN (
         |    SELECT e.dst AS node,
         |           sum(CAST(round(p.pr * e.frac, 8) AS DECIMAL(28,8))) AS c
         |    FROM ew e
         |    JOIN pr${i - 1} p ON e.src = p.node
         |    GROUP BY e.dst) s ON s.node = n0.node)""".stripMargin
    }.mkString(",\n")

  // ---- queries -------------------------------------------------------------

  /** q93: PageRank over the symmetric q87 co-purchase graph. */
  val qPageRank = GraftQuery(
    "q93_pagerank",
    (s, dir) => pageRank(Basket.copurchaseEdges(Tables.lineitem(s, dir), minSupport = 2)),
    Some(s"""
      WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      pairs AS MATERIALIZED (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS w
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY pa, pb HAVING count(*) >= 2),
      edges AS MATERIALIZED (
        SELECT pa AS src, pb AS dst, w FROM pairs
        UNION ALL SELECT pb, pa, w FROM pairs),
      deg AS MATERIALIZED (SELECT src, sum(w) AS wsum FROM edges GROUP BY src),
      ew AS MATERIALIZED (
        SELECT e.src, e.dst, e.w / dg.wsum AS frac
        FROM edges e JOIN deg dg ON e.src = dg.src),
      nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM ew),
      nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
      pr0 AS MATERIALIZED (SELECT node, CAST(1 AS DOUBLE) / nn.n AS pr FROM nodes CROSS JOIN nn),
      ${duckIters(Iters, Damping)}
      SELECT node, round(pr, 8) AS pagerank
      FROM pr$Iters ORDER BY node"""))

  val queries: Seq[GraftQuery] = Seq(qPageRank)
}
