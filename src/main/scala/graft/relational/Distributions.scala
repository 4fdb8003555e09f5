package graft.relational

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distribution-shape diagnostics: Benford leading-digit conformance,
  * Gini concentration per group, and CUSUM change-point screening —
  * the standard audit trio for "does this column's distribution look
  * organic, how concentrated is it, and where did its level shift".
  *
  * Scale shapes: Benford is one narrow map + a 9-group aggregate; Gini is
  * one per-group rank window (partitioned by the group key — the accepted
  * per-key class) over an already-reduced per-entity table; CUSUM's running
  * sum is a single-partition window but over the O(dates) daily aggregate,
  * never raw rows (the q102 sweep-line shape).
  */
object Distributions {

  /** Leading digit extracted through exact integer arithmetic, not
    * floating log10: money values are cents-exact, so `round(x·100)` is an
    * exact BIGINT and its first decimal digit (shift-invariant) is the
    * leading significant digit of x. A `floor(log10 x)` formulation would
    * hinge on last-ulp libm agreement between engines; integer→string→
    * first char is deterministic everywhere.
    */
  private def leadDigit(x: Column): Column =
    substring(round(x * 100).cast("long").cast("string"), 1, 1).cast("int")

  /** Benford's-law screen over a positive money column: per leading digit
    * 1-9, observed count/share vs the Benford expectation log10(1+1/d),
    * and the chi-square contribution n·(obs−exp)²/exp.
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val digits = df
      .select(col(valueCol).as("x"))
      .filter(col("x").isNotNull && col("x") > 0)
      .select(leadDigit(col("x")).as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum(col("n")).as("total"))
    digits.crossJoin(broadcast(tot))
      .select(
        col("digit"), col("n"),
        GraftQuery.duckRound(col("n").cast("double") / col("total"), 6).as("obs_share"),
        GraftQuery.duckRound(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("exp_share"),
        GraftQuery.duckRound(
          pow(col("n").cast("double") / col("total") - log10(lit(1.0) + lit(1.0) / col("digit")), 2)
            / log10(lit(1.0) + lit(1.0) / col("digit")) * col("total"), 4)
          .as("chi2_term"))
      .orderBy(col("digit"))
  }

  /** Gini coefficient of per-customer revenue within each nation:
    * G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx), xᵢ ascending, i the 1-based
    * rank. Revenue reduces orders once per customer (exact DECIMAL cents);
    * i·xᵢ is an exact double product (≤ ~1e12 cents, under 2^53) rounded
    * to cents and re-accumulated as DECIMAL(28,2) so the weighted sum is
    * order-independent; both engines then evaluate the identical closed
    * form on identical scalars.
    */
  def giniRevenue(orders: DataFrame, customer: DataFrame,
                  nation: DataFrame): DataFrame = {
    val rev = orders
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev_dec"))
      .select(col("o_custkey"), col("rev_dec").cast("double").as("rev"))
    // Pin the rank window's exchange: the nation domain has ~25 keys and
    // the shuffled bytes are slim, so AQE byte-coalescing folds the
    // per-nation sort+rank to a single task (measured 2× ~0.55 s serial
    // stages at 10× bench scale). An explicit hash repartition on the
    // window key satisfies the window's required distribution, spreads
    // the 25 key groups over the session's width, and is exempt from
    // coalescing.
    val ranked = Tables.spread(rev
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey"), col("o_custkey"), col("rev")), col("c_nationkey"))
      .withColumn("i",
        row_number().over(Window.partitionBy(col("c_nationkey"))
          .orderBy(col("rev"), col("o_custkey"))))
    val g = ranked.groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("rev").cast(DecimalType(28, 2))).as("total_dec"),
        sum(GraftQuery.duckRound(col("i") * col("rev"), 2).cast(DecimalType(28, 2)))
          .as("weighted_dec"))
      .select(
        col("c_nationkey"), col("n_customers"),
        col("total_dec").cast("double").as("total_rev"),
        col("weighted_dec").cast("double").as("weighted"))
    g.join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(
        col("n_name"), col("n_customers"),
        GraftQuery.duckRound(col("total_rev"), 2).as("total_rev"),
        GraftQuery.duckRound(
          (lit(2.0) * col("weighted") - (col("n_customers") + 1) * col("total_rev"))
            / (col("n_customers") * col("total_rev")), 6).as("gini"))
      .orderBy(col("n_name"))
  }

  /** CUSUM change-point screen over the daily event count series:
    * Dᵢ = Σ_{j≤i} cntⱼ − i·mean (cumulative deviation from the global
    * mean); the date where |D| peaks is the classic single change-point
    * estimate. Integer cumulative sums are exact; i·mean is the same
    * scalar double product in both engines.
    */
  def cusumDailyCounts(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("ts").cast("date").as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("cnt"))
    val tot = daily.agg(
      (sum(col("cnt")).cast("double") / count(lit(1))).as("mean"))
    val w = Window.orderBy(col("d"))
    val c = daily.crossJoin(broadcast(tot))
      .withColumn("cum", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("i", row_number().over(w))
      .withColumn("dev", col("cum") - col("i") * col("mean"))
    c.withColumn("peak", max(abs(col("dev"))).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(
        col("d").cast("timestamp").as("d"), col("cnt"),
        GraftQuery.duckRound(col("dev"), 4).as("cusum"),
        (abs(col("dev")) === col("peak")).as("is_peak"))
      .orderBy(col("d"))
  }

  // ---- queries -------------------------------------------------------------

  val qBenford = GraftQuery(
    "q152_benford",
    (s, dir) => benford(Tables.lineitem(s, dir), "l_extendedprice"),
    Some("""
      WITH digits AS (
        SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
               count(*) AS n
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0
        GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM digits)
      SELECT digit, CAST(n AS BIGINT) AS n,
             round(CAST(n AS DOUBLE) / total, 6) AS obs_share,
             round(log10(1.0 + 1.0 / digit), 6) AS exp_share,
             round(pow(CAST(n AS DOUBLE) / total - log10(1.0 + 1.0 / digit), 2)
                   / log10(1.0 + 1.0 / digit) * total, 4) AS chi2_term
      FROM digits, tot
      ORDER BY digit"""))

  val qGini = GraftQuery(
    "q153_gini_revenue",
    (s, dir) => giniRevenue(Tables.orders(s, dir), Tables.customer(s, dir),
      Tables.nation(s, dir)),
    Some("""
      WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        FROM orders GROUP BY 1),
      ranked AS (
        SELECT c.c_nationkey, r.o_custkey, r.rev,
               row_number() OVER (PARTITION BY c.c_nationkey
                                  ORDER BY r.rev, r.o_custkey) AS i
        FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey),
      g AS (
        SELECT c_nationkey,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(CAST(rev AS DECIMAL(28,2))) AS DOUBLE) AS total_rev,
               CAST(sum(CAST(round(i * rev, 2) AS DECIMAL(28,2))) AS DOUBLE) AS weighted
        FROM ranked GROUP BY 1)
      SELECT n.n_name, g.n_customers,
             round(g.total_rev, 2) AS total_rev,
             round((2.0 * g.weighted - (g.n_customers + 1) * g.total_rev)
                   / (g.n_customers * g.total_rev), 6) AS gini
      FROM g JOIN nation n ON g.c_nationkey = n.n_nationkey
      ORDER BY n.n_name"""))

  val qCusum = GraftQuery(
    "q154_cusum",
    (s, dir) => cusumDailyCounts(Tables.events(s, dir)),
    Some("""
      WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, count(*) AS cnt
        FROM events GROUP BY 1),
      tot AS (SELECT CAST(sum(cnt) AS DOUBLE) / count(*) AS mean FROM daily),
      c AS (
        SELECT d, cnt,
               CAST(sum(cnt) OVER (ORDER BY d) AS BIGINT) AS cum,
               row_number() OVER (ORDER BY d) AS i
        FROM daily)
      SELECT CAST(c.d AS TIMESTAMP) AS d, CAST(c.cnt AS BIGINT) AS cnt,
             round(c.cum - c.i * t.mean, 4) AS cusum,
             abs(c.cum - c.i * t.mean) =
               max(abs(c.cum - c.i * t.mean)) OVER () AS is_peak
      FROM c, tot t
      ORDER BY d"""))

  /** ABC (Pareto) classification of parts by revenue: rank descending,
    * cumulative revenue share, class A up to 80%, B to 95%, C the tail —
    * the inventory-analytics 80/20 cut.
    *
    * Scale shape: above [[AbcFlatWindowMaxBytes]] of input the global
    * cumulative NEVER rides one unpartitioned window (an O(parts) single
    * task — measured 6.7 s over 2 M parts at sf10, and the
    * straggler/OOM at a 100 TB part count). Instead the q68 two-tier
    * prefix-sum, specialized to an ordering instead of an integer key
    * domain: range-partition by the rank order, run the running sum
    * INSIDE each range partition (parallel), and add the exclusive
    * per-range offsets — a window over #partitions slim rows. Below the
    * threshold the flat window wins (the decomposition's two checkpoints
    * + extra shuffle are ~0.5 s of fixed cost the small aggregate never
    * repays — measured 0.67 vs 1.15 s at sf0.1). All sums are exact
    * DECIMAL (order-independent), so both paths — and the oracle's flat
    * window — are bit-identical, which is precisely what makes the
    * oracle a true independent check of the decomposition.
    */
  val AbcFlatWindowMaxBytes: Long = 512L << 20

  def abcClassification(lineitem: DataFrame,
                        forceDecomposed: Boolean = false): DataFrame = {
    val dec = DecimalType(18, 2)
    val inputBytes = lineitem.queryExecution.optimizedPlan.stats.sizeInBytes
    val perPartRaw = lineitem
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast(dec)).as("rev"))
    val cumShare =
      if (!forceDecomposed && inputBytes <= AbcFlatWindowMaxBytes) {
        val ord = Window.orderBy(col("rev").desc, col("l_partkey"))
        perPartRaw
          .withColumn("cum", sum(col("rev")).over(
            ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("total", sum(col("rev")).over(
            ord.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
          .withColumn("share",
            col("cum").cast("double") / col("total").cast("double"))
      } else {
        // checkpoint the SLIM aggregate first: repartitionByRange's
        // boundary sampling is a second full evaluation of its child,
        // which would re-run the O(lineitem) groupBy; downstream, totals
        // is a third consumer
        val perPart = perPartRaw.localCheckpoint(false) // lazy: the
        // range sampler's sketch pass is the first action and evaluates
        // every child partition, materializing the persisted aggregate
        // in the same job
        // second checkpoint pins the sampled range boundaries AND the
        // partition ids: the ranged set is consumed twice (offsets +
        // cumulative), and a re-executed exchange could re-sample
        // boundaries under AQE
        val ranged = perPart
          .repartitionByRange(col("rev").desc, col("l_partkey"))
          .withColumn("pid", spark_partition_id())
          .localCheckpoint()
        val offs = ranged.groupBy(col("pid")).agg(sum(col("rev")).as("p_rev"))
          .withColumn("p_off", coalesce(sum(col("p_rev")).over(
            Window.orderBy(col("pid"))
              .rowsBetween(Window.unboundedPreceding, -1)),
            lit(0).cast(dec)))
          .select(col("pid"), col("p_off"))
        val totals = perPart.agg(sum(col("rev")).as("total"))
        val wIn = Window.partitionBy(col("pid"))
          .orderBy(col("rev").desc, col("l_partkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ranged
          .withColumn("cum_in", sum(col("rev")).over(wIn))
          .join(broadcast(offs), Seq("pid"))
          .crossJoin(broadcast(totals))
          .withColumn("share",
            (col("cum_in") + col("p_off")).cast("double") /
              col("total").cast("double"))
      }
    val cum = cumShare
      .withColumn("abc_class",
        when(col("share") <= 0.80, "A")
          .when(col("share") <= 0.95, "B")
          .otherwise("C"))
    // share denominator = the carried EXACT decimal total (a window sum
    // of the three per-class doubles would add in partition order)
    cum.groupBy(col("abc_class"))
      .agg(
        count(lit(1)).as("n_parts"),
        sum(col("rev")).cast("double").as("revenue"),
        max(col("total")).cast("double").as("total"))
      .select(col("abc_class"), col("n_parts"),
        GraftQuery.duckRound(col("revenue"), 2).as("revenue"),
        GraftQuery.duckRound(col("revenue") / col("total"), 6).as("rev_share"))
      .orderBy(col("abc_class"))
  }

  val qAbc = GraftQuery(
    "q181_abc_classification",
    (s, dir) => abcClassification(Tables.lineitem(s, dir)),
    Some("""
      WITH per_part AS (
        SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
        FROM lineitem GROUP BY l_partkey),
      ranked AS (
        SELECT l_partkey, rev,
               sum(rev) OVER (ORDER BY rev DESC, l_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(rev) OVER () AS total
        FROM per_part),
      classed AS (
        SELECT rev, total,
               CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.80
                      THEN 'A'
                    WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95
                      THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM ranked)
      SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
             round(CAST(sum(rev) AS DOUBLE), 2) AS revenue,
             round(CAST(sum(rev) AS DOUBLE) / CAST(max(total) AS DOUBLE), 6)
               AS rev_share
      FROM classed GROUP BY abc_class ORDER BY abc_class"""))

  val queries: Seq[GraftQuery] = Seq(qBenford, qGini, qCusum, qAbc)
}
