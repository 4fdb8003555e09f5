package graft.relational

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Exact per-group quantile VALUES (p50/p90/p99) computed from aggregated
  * count tables — the companion to q79's percent-rank normalization.
  *
  * Scale shape (the q79 lesson applied to quantile extraction): windows
  * NEVER run per-row. Values collapse to (group, value, count) first, the
  * cumulative count runs over O(distinct values) aggregated rows per
  * group, and the quantile pick is a bounded aggregate over the filtered
  * cumulative table. A hot group costs its distinct-value count, not its
  * row count.
  *
  * Determinism: the discrete quantile (smallest value whose cumulative
  * count reaches ceil(q·n)) is rank arithmetic on exact integers; q is a
  * DECIMAL literal in BOTH engines so ceil(q·n) is exact — a double 0.99
  * would put the product one ulp above/below an integer and shift the
  * rank by one.
  */
object Quantiles {

  val Probes: Seq[(String, String)] =
    Seq("p50" -> "0.50", "p90" -> "0.90", "p99" -> "0.99")

  /** Per (group, probe): the exact discrete quantile of `valueCol`.
    *
    * Exchange layout: the aggregated count table is pinned on the GROUP
    * key right after its own aggregate — the cumulative window, the
    * per-group total (a second frame of the SAME window), and the
    * quantile-pick aggregate all cluster by that key, so the whole chain
    * runs exchange-free behind one small shuffle of O(groups × distinct
    * values) count rows (previously: window re-exchange + a separate
    * totals aggregate + its join, three exchanges of the same table).
    */
  def groupQuantiles(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    val counts = Tables.spread(df.groupBy(col(groupCol), col(valueCol).as("v"))
      .agg(count(lit(1)).as("c")), col(groupCol))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(groupCol)).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = counts
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(wAll))
    val probes = Probes
      .map { case (label, q) => (label, BigDecimal(q)) }
      .toDF("probe", "q")
    cum
      .crossJoin(broadcast(probes)) // constant 3-row probe table
      .filter(col("cum") >= ceil(col("q") * col("n")))
      .groupBy(col(groupCol), col("probe"))
      .agg(min(col("v")).as("quantile"))
      .orderBy(col(groupCol), col("probe"))
  }

  /** Weighted quantiles per group (inverted-CDF, type 1): smallest value
    * whose cumulative WEIGHT reaches ceil(q · total_weight) — the
    * corpus-reweighting form of [[groupQuantiles]] (e.g. "token-weighted
    * median document quality"). Same scale shape: the window runs over
    * the O(distinct values) count table, never raw rows; rank thresholds
    * are exact DECIMAL·integer products so ceil is never off by an ulp.
    */
  def weightedGroupQuantiles(df: DataFrame, groupCol: String,
                             valueCol: String, weightCol: String): DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    // group-key pin + window-derived total: one count-table shuffle feeds
    // the whole chain (see groupQuantiles)
    val counts = Tables.spread(df
      .select(col(groupCol), col(valueCol).as("v"),
        col(weightCol).cast("long").as("wt"))
      .groupBy(col(groupCol), col("v"))
      .agg(sum(col("wt")).as("c")), col(groupCol))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(groupCol)).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = counts
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(wAll))
    val probes = WeightedProbes
      .map { case (label, q) => (label, BigDecimal(q)) }
      .toDF("probe", "q")
    cum
      .crossJoin(broadcast(probes)) // constant 4-row probe table
      .filter(col("cum") >= ceil(col("q") * col("n")))
      .groupBy(col(groupCol), col("probe"))
      .agg(min(col("v")).as("wquantile"))
      .orderBy(col(groupCol), col("probe"))
  }

  val WeightedProbes: Seq[(String, String)] = Seq(
    "p25" -> "0.25", "p50" -> "0.50", "p75" -> "0.75", "p90" -> "0.90")

  /** rank ceil(q·n) as a 1-based sorted-array index — exact: q is a
    * DECIMAL literal so q·n is exact decimal arithmetic, never an ulp off
    * (the [[groupQuantiles]] rule applied in-row).
    */
  private def decRank(q: String, n: Column): Column =
    ceil(lit(BigDecimal(q)) * n).cast("int")

  /** Robust per-group outlier stats: median, MAD (median absolute
    * deviation), and the count of rows whose deviation exceeds z·MAD — the
    * median/MAD robust z-score screen that, unlike mean/stddev, a few
    * extreme rows cannot drag.
    *
    * Both medians are the exact DISCRETE quantile (no interpolation —
    * interpolated medians differ across engines in the last ulp; rank
    * arithmetic cannot), computed IN-ROW: one aggregate collects the
    * group's values into a sorted array and every statistic is array rank
    * arithmetic on it. ONE shuffle, no windows, no self-joins. This form
    * is right precisely when the group size is data-model-bounded (here
    * ~30 lineitems per part — the same argument Basket makes for order
    * baskets); the count-table + cumulative-window form ([[groupQuantiles]],
    * kept for q110/q119) is right in the opposite regime, low-cardinality
    * keys over a domain-bounded value column. The previous count-table
    * version of THIS query degenerated exactly as that rule predicts:
    * l_extendedprice is near-unique, so the count table ≈ the fact table
    * and the query paid two window passes + three self-joins over it
    * (measured 2.1 s → 0.6 s at sf0.1 for the in-row rewrite).
    */
  def madOutlierStats(df: DataFrame, groupCol: String, valueCol: String,
                      z: Double): DataFrame = {
    require(z > 0, s"z must be > 0, got $z")
    // NULL values carry no rank: drop them up front, so a group whose
    // values are ALL null yields no output row instead of an empty
    // collected array crashing the rank probe (element_at index 0)
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(col(valueCol).cast("double"))).as("vs"))
      .withColumn("n", size(col("vs")))
      .withColumn("med", element_at(col("vs"), decRank("0.5", col("n"))))
      .withColumn("devs",
        sort_array(transform(col("vs"), x => abs(x - col("med")))))
      .withColumn("mad", element_at(col("devs"), decRank("0.5", col("n"))))
      .select(col(groupCol), col("med"), col("mad"),
        col("n").cast("long").as("n_rows"),
        size(filter(col("vs"),
          x => abs(x - col("med")) > col("mad") * lit(z)))
          .cast("long").as("n_outliers"))
      .orderBy(col(groupCol))
  }

  /** Winsorized per-group stats: clamp values into [p05, p95] (exact
    * discrete quantiles from the count table) and report the clipped
    * mean plus how many rows each tail clipped — the robust-mean screen
    * that bounds the influence of any single extreme row, companion to
    * [[madOutlierStats]].
    *
    * Scale shape: the in-row form of [[madOutlierStats]] (same bounded-
    * group rationale — per-part ~30 rows): one aggregate collects the
    * sorted DECIMAL(18,2) array, quantile picks are array rank
    * arithmetic, and the clipped mean is an exact decimal fold cast to
    * double once — order-independent, so hash-equal to the oracle's
    * sum-of-decimals whatever the partitioning. Quantile probes are
    * DECIMAL literals so the rank arithmetic is ulp-exact (see
    * [[groupQuantiles]]).
    */
  def winsorizedStats(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    // all-null groups drop rather than crash — see madOutlierStats
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(col(valueCol).cast("decimal(18,2)")))
        .as("vs"))
      .withColumn("n", size(col("vs")))
      .withColumn("qlo", element_at(col("vs"), decRank("0.05", col("n"))))
      .withColumn("qhi", element_at(col("vs"), decRank("0.95", col("n"))))
      .select(
        col(groupCol),
        col("n").cast("long").as("n_rows"),
        size(filter(col("vs"), x => x < col("qlo")))
          .cast("long").as("n_clip_lo"),
        size(filter(col("vs"), x => x > col("qhi")))
          .cast("long").as("n_clip_hi"),
        (aggregate(col("vs"), lit(BigDecimal(0)).cast("decimal(38,2)"),
          (acc, x) => (acc +
            when(x < col("qlo"), col("qlo"))
              .when(x > col("qhi"), col("qhi")).otherwise(x))
            .cast("decimal(38,2)"))
          .cast("double") / col("n").cast("double")).as("winsorized_mean"),
        col("qlo").cast("double").as("p05"),
        col("qhi").cast("double").as("p95"))
      .orderBy(col(groupCol))
  }

  /** Approximate per-group quantiles (the mergeable Greenwald-Khanna-style
    * sketch behind `percentile_approx`) VERIFIED against exact rank bounds
    * — the q37 idiom applied to quantiles: the sketch estimate itself is
    * merge-order-dependent, so the dumped rows carry the EXACT discrete
    * quantile (count-table rank arithmetic, hash-comparable against
    * DuckDB) plus a boolean asserting the sketch value lies between the
    * exact values at ranks ceil(q·n) ± slack·n/accuracy. The sketch's
    * guarantee is rank error ≤ n/accuracy; `slack`× that is the 3-sigma-
    * style margin so an implementation change doesn't flip the harness
    * red without a semantic bug. The oracle pins the booleans TRUE — an
    * out-of-bound sketch fails the hash check.
    *
    * One scan computes the sketch (partial-aggregated map-side, O(accuracy)
    * state per group); the exact side is the count-table shape: all three
    * rank picks (lo/exact/hi) come from ONE conditional aggregate over the
    * cumulative table, windows over O(distinct values) per group.
    */
  def approxQuantileGate(df: DataFrame, groupCol: String, valueCol: String,
                         accuracy: Int, slack: Int): DataFrame = {
    require(accuracy >= 100, s"accuracy must be >= 100, got $accuracy")
    require(slack >= 1, s"slack must be >= 1, got $slack")
    val sp = df.sparkSession
    import sp.implicits._
    // group-key pin + window-derived total (see groupQuantiles); the rank
    // bounds are row-level arithmetic on (q, n), so inlining them after
    // the probe cross-join replaces the totals aggregate + ranks join
    // with expressions on rows already at hand
    val counts = Tables.spread(df.groupBy(col(groupCol), col(valueCol).as("v"))
      .agg(count(lit(1)).as("c")), col(groupCol))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(groupCol)).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = counts
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(wAll))
    val probes = Probes.map { case (label, q) => (label, BigDecimal(q)) }
      .toDF("probe", "q")
    val exact = cum.crossJoin(broadcast(probes))
      .withColumn("r", ceil(col("q") * col("n")).cast("long"))
      // bound ranks only feed the pass/fail booleans (the oracle pins them
      // TRUE, never their numeric path), so double arithmetic is fine here
      .withColumn("d",
        ceil(lit(slack.toDouble) * col("n") / lit(accuracy.toDouble)).cast("long"))
      .withColumn("rlo", greatest(lit(1L), col("r") - col("d")))
      .withColumn("rhi", least(col("n"), col("r") + col("d")))
      .groupBy(col(groupCol), col("probe"))
      .agg(
        min(when(col("cum") >= col("r"), col("v"))).as("quantile"),
        min(when(col("cum") >= col("rlo"), col("v"))).as("vlo"),
        min(when(col("cum") >= col("rhi"), col("v"))).as("vhi"))
    val qsArr = array(Probes.map { case (_, q) => lit(q.toDouble) }: _*)
    val approx = df.groupBy(col(groupCol))
      .agg(percentile_approx(col(valueCol), qsArr, lit(accuracy)).as("ap"))
      .select(col(groupCol), posexplode(col("ap")).as(Seq("pos", "ap")))
      .join(broadcast(Probes.map(_._1).zipWithIndex.map(_.swap).toDF("pos", "probe")),
        Seq("pos"))
    exact.join(approx, Seq(groupCol, "probe"))
      .select(col(groupCol), col("probe"), col("quantile"),
        (col("ap") >= col("vlo") && col("ap") <= col("vhi")).as("within_bounds"))
      .orderBy(col(groupCol), col("probe"))
  }

  // ---- queries -------------------------------------------------------------

  val qQuantiles = GraftQuery(
    "q110_group_quantiles",
    (s, dir) => groupQuantiles(Tables.events(s, dir), "event_type", "value"),
    Some("""
      WITH counts AS (
        SELECT event_type, value AS v, count(*) AS c
        FROM events GROUP BY event_type, v),
      cum AS (
        SELECT event_type, v, c,
               sum(c) OVER (PARTITION BY event_type ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM counts),
      totals AS (SELECT event_type, sum(c) AS n FROM counts GROUP BY event_type),
      probes AS (
        SELECT * FROM (VALUES ('p50', 0.50), ('p90', 0.90), ('p99', 0.99))
          t(probe, q))
      SELECT c.event_type, p.probe, min(c.v) AS quantile
      FROM cum c JOIN totals t ON c.event_type = t.event_type
      CROSS JOIN probes p
      WHERE c.cum >= ceil(p.q * t.n)
      GROUP BY c.event_type, p.probe
      ORDER BY c.event_type, p.probe"""))

  /** Grouped by l_partkey: group size is data-model-bounded (~30
    * lineitems per part) and l_extendedprice is near-unique (59,821
    * distinct of 60,000 rows at sf0.01), so the in-row sorted-array form
    * applies — the count table the old form built was ~the fact table.
    * Group count grows with the data, per-group work stays bounded.
    */
  val qMadOutliers = GraftQuery(
    "q116_mad_outliers",
    (s, dir) => madOutlierStats(Tables.lineitem(s, dir),
      "l_partkey", "l_extendedprice", z = 3.0),
    Some("""
      WITH counts AS (
        -- mirror the engine's up-front NULL drop (madOutlierStats): NULL
        -- values carry no rank, and an all-NULL group emits no output row
        SELECT l_partkey AS grp, l_extendedprice AS v, count(*) AS c
        FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY grp, v),
      cum AS (
        SELECT grp, v, c,
               sum(c) OVER (PARTITION BY grp ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM counts),
      tot AS (SELECT grp, sum(c) AS n FROM counts GROUP BY grp),
      med AS (
        SELECT c.grp, min(c.v) AS med
        FROM cum c JOIN tot t ON c.grp = t.grp
        WHERE c.cum >= ceil(0.5 * t.n) GROUP BY c.grp),
      dcounts AS (
        SELECT k.grp AS grp, abs(k.v - m.med) AS v, sum(k.c) AS c
        FROM counts k JOIN med m ON k.grp = m.grp
        GROUP BY k.grp, abs(k.v - m.med)),
      dcum AS (
        SELECT grp, v, c,
               sum(c) OVER (PARTITION BY grp ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM dcounts),
      dtot AS (SELECT grp, sum(c) AS n FROM dcounts GROUP BY grp),
      mad AS (
        SELECT d.grp, min(d.v) AS mad
        FROM dcum d JOIN dtot t ON d.grp = t.grp
        WHERE d.cum >= ceil(0.5 * t.n) GROUP BY d.grp)
      SELECT k.grp AS l_partkey, max(m.med) AS med, max(a.mad) AS mad,
             CAST(sum(k.c) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN abs(k.v - m.med) > a.mad * CAST(3.0 AS DOUBLE)
                           THEN k.c ELSE 0 END) AS BIGINT) AS n_outliers
      FROM counts k
      JOIN med m ON k.grp = m.grp
      JOIN mad a ON k.grp = a.grp
      GROUP BY k.grp ORDER BY l_partkey"""))

  val qApproxQuantiles = GraftQuery(
    "q119_approx_quantile_gate",
    (s, dir) => approxQuantileGate(Tables.lineitem(s, dir),
      "l_returnflag", "l_quantity", accuracy = 10000, slack = 4),
    Some("""
      WITH counts AS (
        SELECT l_returnflag, l_quantity AS v, count(*) AS c
        FROM lineitem GROUP BY l_returnflag, v),
      cum AS (
        SELECT l_returnflag, v, c,
               sum(c) OVER (PARTITION BY l_returnflag ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM counts),
      totals AS (SELECT l_returnflag, sum(c) AS n FROM counts GROUP BY l_returnflag),
      probes AS (SELECT * FROM (VALUES ('p50', CAST(0.50 AS DECIMAL(4,2))),
                                       ('p90', CAST(0.90 AS DECIMAL(4,2))),
                                       ('p99', CAST(0.99 AS DECIMAL(4,2)))) AS p(probe, q))
      SELECT c.l_returnflag, p.probe, min(c.v) AS quantile,
             TRUE AS within_bounds
      FROM cum c JOIN totals t ON c.l_returnflag = t.l_returnflag
      CROSS JOIN probes p
      WHERE c.cum >= ceil(p.q * t.n)
      GROUP BY c.l_returnflag, p.probe
      ORDER BY c.l_returnflag, p.probe"""))

  /** q123: same grouping rationale as q116 — per-part windows stay
    * bounded by the ~30 distinct prices per part, never corpus size.
    */
  val qWinsorized = GraftQuery(
    "q123_winsorized_stats",
    (s, dir) => winsorizedStats(Tables.lineitem(s, dir),
      "l_partkey", "l_extendedprice"),
    Some("""
      WITH counts AS (
        -- mirror the engine's up-front NULL drop (see q116's counts CTE)
        SELECT l_partkey AS grp, CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
               count(*) AS c
        FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY grp, v),
      cum AS (
        SELECT grp, v, c,
               sum(c) OVER (PARTITION BY grp ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM counts),
      tot AS (SELECT grp, sum(c) AS n FROM counts GROUP BY grp),
      qlo AS (
        SELECT c.grp, min(c.v) AS qlo
        FROM cum c JOIN tot t ON c.grp = t.grp
        WHERE c.cum >= ceil(CAST(0.05 AS DECIMAL(4,2)) * t.n) GROUP BY c.grp),
      qhi AS (
        SELECT c.grp, min(c.v) AS qhi
        FROM cum c JOIN tot t ON c.grp = t.grp
        WHERE c.cum >= ceil(CAST(0.95 AS DECIMAL(4,2)) * t.n) GROUP BY c.grp)
      SELECT k.grp AS l_partkey,
             CAST(sum(k.c) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN k.v < lo.qlo THEN k.c ELSE 0 END) AS BIGINT)
               AS n_clip_lo,
             CAST(sum(CASE WHEN k.v > hi.qhi THEN k.c ELSE 0 END) AS BIGINT)
               AS n_clip_hi,
             -- CASE, not least/greatest: DuckDB's least/greatest coerce
             -- DECIMAL args to DOUBLE, which makes the sum order-dependent
             CAST(sum((CASE WHEN k.v < lo.qlo THEN lo.qlo
                            WHEN k.v > hi.qhi THEN hi.qhi
                            ELSE k.v END) * k.c) AS DOUBLE) /
               CAST(sum(k.c) AS DOUBLE) AS winsorized_mean,
             CAST(max(lo.qlo) AS DOUBLE) AS p05,
             CAST(max(hi.qhi) AS DOUBLE) AS p95
      FROM counts k
      JOIN qlo lo ON k.grp = lo.grp
      JOIN qhi hi ON k.grp = hi.grp
      GROUP BY k.grp ORDER BY l_partkey"""))

  /** Revenue-weighted quantity quantiles per return flag: each line's
    * quantity counts round(l_extendedprice) times — "what order size
    * does the q-th revenue dollar trade at", not "the q-th line". The
    * VALUE column here is the domain-bounded one (quantity, ~50 values),
    * so the count table is O(flags × quantities) whatever the data size
    * — weighting by the high-cardinality column keeps the per-group
    * window constant-size at any scale (the q116 cardinality rule).
    */
  val qWeightedQuantiles = GraftQuery(
    "q167_weighted_quantile",
    (s, dir) => weightedGroupQuantiles(Tables.lineitem(s, dir)
      .withColumn("rev_w", round(col("l_extendedprice")).cast("long")),
      "l_returnflag", "l_quantity", "rev_w"),
    Some("""
      WITH counts AS (
        SELECT l_returnflag, l_quantity AS v,
               CAST(sum(CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT)
                 AS c
        FROM lineitem GROUP BY l_returnflag, v),
      cum AS (
        SELECT l_returnflag, v, c,
               sum(c) OVER (PARTITION BY l_returnflag ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM counts),
      totals AS (
        SELECT l_returnflag, sum(c) AS n FROM counts GROUP BY l_returnflag),
      probes AS (
        SELECT * FROM (VALUES ('p25', 0.25), ('p50', 0.50),
                              ('p75', 0.75), ('p90', 0.90)) t(probe, q))
      SELECT c.l_returnflag, p.probe, min(c.v) AS wquantile
      FROM cum c JOIN totals t ON c.l_returnflag = t.l_returnflag
      CROSS JOIN probes p
      WHERE c.cum >= ceil(p.q * t.n)
      GROUP BY c.l_returnflag, p.probe
      ORDER BY c.l_returnflag, p.probe"""))

  val queries: Seq[GraftQuery] =
    Seq(qQuantiles, qMadOutliers, qApproxQuantiles, qWinsorized,
      qWeightedQuantiles)
}
