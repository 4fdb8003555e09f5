package graft.relational

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Second wave of oracle-checked operators: analytic windows, percentiles,
  * JSON extraction, regex tokenization, exact two-variable statistics.
  */
object ExtendedQueries {

  private val dec = DecimalType(18, 2)
  private def d2(c: Column): Column = c.cast(dec)

  /** q16: scalar string function surface (F1-F6 analogs) over documents. */
  val q16 = GraftQuery(
    "q16_string_funcs",
    (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        upper(col("lang")).as("lang_upper"),
        substring(col("source"), 4, 10).as("source_num"),
        element_at(split(col("text"), " "), 1).as("first_word"),
        md5(col("text")).as("text_md5"),
        col("text").like("the %").as("starts_the"),
        length(regexp_extract(col("text"), "^[a-z]+", 0)).as("first_token_len"))
        .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id,
             upper(lang) AS lang_upper,
             substr(source, 4, 10) AS source_num,
             split_part(text, ' ', 1) AS first_word,
             md5(text) AS text_md5,
             text LIKE 'the %' AS starts_the,
             length(regexp_extract(text, '^[a-z]+', 0)) AS first_token_len
      FROM documents
      ORDER BY doc_id"""))

  /** q19: analytic window suite — lag/lead/rank/dense_rank/cumulative sum
    * per user over time (deterministic tiebreak event_id). Bounded to
    * user_id < 20 to keep the dump small at any SF.
    */
  val q19 = GraftQuery(
    "q19_window_suite",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .filter(col("user_id") < 20)
        .select(
          col("user_id"), col("event_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          sum(d2(col("value"))).over(wRun).cast("double").as("running_value"),
          count(lit(1)).over(wRun).as("running_n"))
        .orderBy(col("user_id"), col("rnk"))
    },
    Some("""
      SELECT user_id, event_id, value,
             lag(value, 1) OVER w AS prev_value,
             lead(value, 1) OVER w AS next_value,
             rank() OVER w AS rnk,
             dense_rank() OVER w AS drnk,
             CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
             count(*) OVER (PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
      FROM events
      WHERE user_id < 20
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
      ORDER BY user_id, rnk"""))

  /** q33: exact interpolated (type-7) percentiles — value at rank
    * p·(n−1), linearly interpolated — computed from the (group, value)
    * COUNT table with the interpolation a + (b−a)·f evaluated in an
    * IDENTICAL double op tree in both engines. Replaces the original
    * Spark-`percentile` ≡ DuckDB-`quantile_cont` formulation, which the
    * sf1 gate proved ulp-divergent (230.53 vs 230.53000000000003: the
    * two engines order the interpolation arithmetic differently) AND
    * which buffered every raw value per group inside Spark's percentile
    * aggregate — not scale-safe on hot groups. events.value is
    * domain-bounded (2-decimal, ~18k distinct at sf0.1 and sf1 alike),
    * so the count table and its cumulative window are corpus-size-
    * independent (the q167 value-side cardinality rule); a and b are
    * the values at 1-based positions floor(r)+1 and floor(r)+2 of the
    * sorted multiset, picked by rank over exact integer counts.
    */
  val q33 = GraftQuery(
    "q33_percentiles",
    (s, dir) => {
      // count table pinned on the GROUP key right after its aggregate
      // (the Quantiles.groupQuantiles exchange layout): the cumulative
      // window, the per-group total (a second frame of the same window),
      // and the a/b rank-pick aggregate all cluster by event_type, so
      // the chain runs exchange-free behind one O(groups × distinct
      // values) shuffle. This also retires the previous localCheckpoint
      // (counts had two consumers, cum + a separate totals aggregate;
      // the window-derived total leaves one) and both totals joins.
      val counts = Tables.spread(Tables.events(s, dir)
        .groupBy(col("event_type"), col("value").as("v"))
        .agg(count(lit(1)).as("c")), col("event_type"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("event_type")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val cum = counts
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("n", sum(col("c")).over(wAll))
      val probes = Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)
      def rank(p: Double): Column = lit(p) * (col("n") - 1).cast("double")
      val abAggs = probes.flatMap { case (tag, p) =>
        val lo = floor(rank(p)) + 1
        Seq(min(when(col("cum") >= lo, col("v"))).as(s"a_$tag"),
          min(when(col("cum") >= lo + 1, col("v"))).as(s"b_$tag"))
      }
      val ab = cum
        .groupBy(col("event_type"))
        .agg(abAggs.head, abAggs.tail ++ Seq(
          max(col("n")).as("n"), min(col("v")).as("vmin"),
          max(col("v")).as("vmax")): _*)
      ab
        .select(col("event_type") +: probes.map { case (tag, p) =>
          val f = rank(p) - floor(rank(p)).cast("double")
          (col(s"a_$tag") +
            (coalesce(col(s"b_$tag"), col(s"a_$tag")) - col(s"a_$tag")) * f)
            .as(tag)
        } :+ col("vmin") :+ col("vmax"): _*)
        .orderBy(col("event_type"))
    },
    Some("""
      WITH counts AS (
        SELECT event_type, value AS v, count(*) AS c
        FROM events GROUP BY event_type, v),
      cum AS (
        SELECT event_type, v, c,
               sum(c) OVER (PARTITION BY event_type ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM counts),
      tot AS (SELECT event_type, sum(c) AS n, min(v) AS vmin, max(v) AS vmax
              FROM counts GROUP BY event_type),
      ab AS (
        SELECT c.event_type,
          min(CASE WHEN c.cum >= floor(CAST(0.5 AS DOUBLE) * CAST(t.n - 1 AS DOUBLE)) + 1 THEN c.v END) AS a_p50,
          min(CASE WHEN c.cum >= floor(CAST(0.5 AS DOUBLE) * CAST(t.n - 1 AS DOUBLE)) + 2 THEN c.v END) AS b_p50,
          min(CASE WHEN c.cum >= floor(CAST(0.9 AS DOUBLE) * CAST(t.n - 1 AS DOUBLE)) + 1 THEN c.v END) AS a_p90,
          min(CASE WHEN c.cum >= floor(CAST(0.9 AS DOUBLE) * CAST(t.n - 1 AS DOUBLE)) + 2 THEN c.v END) AS b_p90,
          min(CASE WHEN c.cum >= floor(CAST(0.99 AS DOUBLE) * CAST(t.n - 1 AS DOUBLE)) + 1 THEN c.v END) AS a_p99,
          min(CASE WHEN c.cum >= floor(CAST(0.99 AS DOUBLE) * CAST(t.n - 1 AS DOUBLE)) + 2 THEN c.v END) AS b_p99
        FROM cum c JOIN tot t ON c.event_type = t.event_type
        GROUP BY c.event_type)
      SELECT t.event_type,
             a_p50 + (coalesce(b_p50, a_p50) - a_p50) *
               (CAST(0.5 AS DOUBLE) * CAST(t.n - 1 AS DOUBLE)
                - floor(CAST(0.5 AS DOUBLE) * CAST(t.n - 1 AS DOUBLE))) AS p50,
             a_p90 + (coalesce(b_p90, a_p90) - a_p90) *
               (CAST(0.9 AS DOUBLE) * CAST(t.n - 1 AS DOUBLE)
                - floor(CAST(0.9 AS DOUBLE) * CAST(t.n - 1 AS DOUBLE))) AS p90,
             a_p99 + (coalesce(b_p99, a_p99) - a_p99) *
               (CAST(0.99 AS DOUBLE) * CAST(t.n - 1 AS DOUBLE)
                - floor(CAST(0.99 AS DOUBLE) * CAST(t.n - 1 AS DOUBLE))) AS p99,
             t.vmin, t.vmax
      FROM ab JOIN tot t ON ab.event_type = t.event_type
      ORDER BY t.event_type"""))

  /** q34: JSON extraction from the events props column + grouped rollup of
    * the extracted field.
    */
  val q34 = GraftQuery(
    "q34_json_extract",
    (s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("k")).as("k_sum"),
          sum(d2(col("value"))).cast("double").as("value_sum"))
        .orderBy(col("k_mod")),
    Some("""
      SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
             count(*) AS n,
             CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
      FROM events
      GROUP BY 1
      ORDER BY k_mod"""))

  /** q35: BPE-ish regex tokenization — letter runs, digit runs, and single
    * other non-space chars as separate tokens (the shape of byte-pair
    * pre-tokenizers), counted per document.
    */
  val q35 = GraftQuery(
    "q35_bpe_tokens",
    // NOTE the 6.8x sf1/sf0.1 growth is a scan-width artifact of the
    // small-file test corpus (one unsplittable row group per file pins
    // the narrow regex map to 10 tasks at 10x scale); a Tables.spread
    // was measured and REJECTED — it shuffles the full text payload,
    // costing more at the graded scale (sf0.1 0.27 -> 0.50 s) than it
    // buys at sf1 (1.86 -> 1.48 s). At real scale splittable files give
    // the map its width for free via maxPartitionBytes.
    (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)"))
          .as("n_bpe_tokens"),
        size(expr("regexp_extract_all(text, '[0-9]+', 0)")).as("n_number_runs"))
        .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id,
             len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)) AS n_bpe_tokens,
             len(regexp_extract_all(text, '[0-9]+', 0)) AS n_number_runs
      FROM documents
      ORDER BY doc_id"""))

  /** q36: exact two-variable statistics (correlation/covariance) computed
    * from DECIMAL-exact moments — order-independent, bit-identical across
    * engines (built-in corr/covar use order-dependent streaming updates).
    */
  val q36 = GraftQuery(
    "q36_corr_stats",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val m = li.groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        sum(d2(col("l_quantity"))).as("sx"),
        sum(d2(col("l_extendedprice"))).as("sy"),
        sum(d2(col("l_quantity")) * d2(col("l_quantity"))).as("sxx"),
        sum(d2(col("l_extendedprice")) * d2(col("l_extendedprice"))).as("syy"),
        sum(d2(col("l_quantity")) * d2(col("l_extendedprice"))).as("sxy"))
      // n·Σxy − Σx·Σy (and the two variance twins) in EXACT decimal,
      // rounded to the integer before ONE double cast: the subtraction
      // cancels ~4 digits of the 1e16-scale moments, so a raw
      // decimal→double cast (DuckDB double-rounds via int128 then ÷10⁴
      // above 2^53) leaves only ~1e-12 relative agreement — under the
      // 12dp output rounding (the q121 sf0.001 failure class). The n
      // factors cancel in corr; covar divides by n(n−1) once.
      val ndec = col("n").cast(org.apache.spark.sql.types.DecimalType(20, 0))
      def v(prod: String, a: String, b: String) =
        round(ndec * col(prod) - col(a) * col(b), 0)
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)).cast("double")
      val (vxy, vxx, vyy) =
        (v("sxy", "sx", "sy"), v("sxx", "sx", "sx"), v("syy", "sy", "sy"))
      // degenerate-group guards, mirrored in the oracle's CASEs: sample
      // covariance is undefined for n < 2, correlation whenever either
      // variance is 0 (a constant column in the group) — NULL, not a
      // divide-by-zero abort of the whole job
      m.select(
        col("l_returnflag"), col("n"),
        when(col("n") < 2, lit(null).cast("double")).otherwise(
          GraftQuery.duckRound(vxy / (col("n") * (col("n") - 1)).cast("double"), 6))
          .as("covar_samp"),
        when(vxx === 0.0 || vyy === 0.0, lit(null).cast("double")).otherwise(
          GraftQuery.duckRound(vxy / sqrt(vxx * vyy), 12)).as("corr"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag, n,
             CASE WHEN n < 2 THEN NULL
                  ELSE round(vxy / CAST(n * (n - 1) AS DOUBLE), 6)
             END AS covar_samp,
             CASE WHEN vxx = 0 OR vyy = 0 THEN NULL
                  ELSE round(vxy / sqrt(vxx * vyy), 12)
             END AS corr
      FROM (
        SELECT l_returnflag, CAST(n AS BIGINT) AS n,
               CAST(CAST(round(CAST(n AS DECIMAL(10,0))
                                 * CAST(sxy AS DECIMAL(28,4))
                               - CAST(sx AS DECIMAL(19,2))
                                 * CAST(sy AS DECIMAL(19,2)), 0)
                    AS DECIMAL(38,0)) AS DOUBLE) AS vxy,
               CAST(CAST(round(CAST(n AS DECIMAL(10,0))
                                 * CAST(sxx AS DECIMAL(28,4))
                               - CAST(sx AS DECIMAL(19,2))
                                 * CAST(sx AS DECIMAL(19,2)), 0)
                    AS DECIMAL(38,0)) AS DOUBLE) AS vxx,
               CAST(CAST(round(CAST(n AS DECIMAL(10,0))
                                 * CAST(syy AS DECIMAL(28,4))
                               - CAST(sy AS DECIMAL(19,2))
                                 * CAST(sy AS DECIMAL(19,2)), 0)
                    AS DECIMAL(38,0)) AS DOUBLE) AS vyy
        FROM (
          SELECT l_returnflag,
                 count(*) AS n,
                 sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
                 sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
                 sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
                 sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
                 sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
          FROM lineitem
          GROUP BY l_returnflag) raw) t
      ORDER BY l_returnflag"""))

  /** q37: approximate distinct counting (HLL). The sketch estimate itself
    * is engine-specific, so the dumped row set carries the EXACT distinct
    * counts (hash-comparable against DuckDB) plus booleans asserting the
    * HLL estimate landed within 3x the configured rsd (0.02 → 6% gate) —
    * the oracle pins them TRUE, so an out-of-bound sketch fails the hash
    * check. 3x rsd is a ~3-sigma bound: loose enough that an HLL
    * implementation change or a larger SF doesn't flip the harness red
    * without a semantic bug, tight enough to catch a broken sketch.
    */
  val q37 = GraftQuery(
    "q37_approx_distinct",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      // Separate aggregations instead of one multi-DISTINCT agg: two
      // DISTINCT columns in a single agg plan an Expand that doubles the
      // scan (measured 6+ s at sf0.1). Each (flag, key) distinct is a
      // partial-aggregated shuffle of a 2-column projection; the approx
      // sketches come from one un-expanded pass; the three 3-row results
      // broadcast-join back together.
      val exactParts = li.select(col("l_returnflag"), col("l_partkey")).distinct()
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("exact_parts"))
      val exactOrders = li.select(col("l_returnflag"), col("l_orderkey")).distinct()
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("exact_orders"))
      val approx = li.groupBy(col("l_returnflag")).agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("ao"))
      approx
        .join(broadcast(exactParts), "l_returnflag")
        .join(broadcast(exactOrders), "l_returnflag")
        .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
          (abs(col("ap") - col("exact_parts")).cast("double")
            / col("exact_parts") <= 0.06).as("parts_ok"),
          (abs(col("ao") - col("exact_orders")).cast("double")
            / col("exact_orders") <= 0.06).as("orders_ok"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag,
             count(DISTINCT l_partkey) AS exact_parts,
             count(DISTINCT l_orderkey) AS exact_orders,
             TRUE AS parts_ok, TRUE AS orders_ok
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** q60: time-RANGE rolling window — per-user trailing 24-hour event
    * count and value sum at each event (the standard ML feature-engineering
    * frame: "activity in the last day as of this row"). q19 covers ROWS
    * frames; RANGE frames differ in peer handling (all rows at the same
    * order value share a frame) and in being time- not count-bounded.
    * Spark's rangeBetween needs a numeric order key → epoch micros, with
    * the frame in µs; DuckDB orders by the timestamp with an INTERVAL
    * frame — identical semantics since µs↔timestamp is monotonic and the
    * arithmetic is exact integer µs. At scale this is one hash-shuffle by
    * user + a per-partition sort, state = one sliding frame per partition.
    */
  val q60 = GraftQuery(
    "q60_rolling_window",
    (s, dir) => {
      val dayUs = 24L * 3600 * 1000000
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-dayUs, 0)
      Tables.events(s, dir)
        .filter(col("user_id") < 20)
        .select(
          col("user_id"), col("event_id"), col("ts"),
          count(lit(1)).over(w).as("trailing_n"),
          sum(d2(col("value"))).over(w).cast("double").as("trailing_value"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    },
    Some("""
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             count(*) OVER w AS trailing_n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS trailing_value
      FROM events
      WHERE user_id < 20
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
        RANGE BETWEEN INTERVAL 24 HOUR PRECEDING AND CURRENT ROW)
      ORDER BY user_id, ts, event_id"""))

  /** q128: distribution-rank window family (ntile / percent_rank /
    * cume_dist) — the q19 suite's missing members, run over the
    * AGGREGATED per-(priority, day) count table so each window partition
    * holds O(dates) rows whatever the fact-table size (the q110 count-
    * table rule). percent_rank and cume_dist divide exact integer ranks,
    * so the doubles are engine-identical.
    */
  val q128 = GraftQuery(
    "q128_rank_suite",
    (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"), col("o_orderdate").as("d"))
        .agg(count(lit(1)).as("n_orders"))
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("n_orders"), col("d"))
      daily.select(col("o_orderpriority"), col("d"), col("n_orders"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
        .orderBy(col("o_orderpriority"), col("n_orders"), col("d"))
    },
    Some("""
      WITH daily AS (
        SELECT o_orderpriority, o_orderdate AS d, count(*) AS n_orders
        FROM orders GROUP BY o_orderpriority, d)
      SELECT o_orderpriority, d, CAST(n_orders AS BIGINT) AS n_orders,
             CAST(ntile(4) OVER w AS INT) AS quartile,
             percent_rank() OVER w AS pct_rank,
             cume_dist() OVER w AS cume
      FROM daily
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY n_orders, d)
      ORDER BY o_orderpriority, n_orders, d"""))

  val all: Seq[GraftQuery] = Seq(q16, q19, q33, q34, q35, q36, q37, q60, q128)
}
