package graft.relational

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering: interleave the bits of two dimension keys
  * into one sort key so that sorting by it co-locates rows that are close
  * in BOTH dimensions — the data-layout pass behind multi-dimensional file
  * skipping (each parquet file's min/max footer then prunes on either
  * predicate, not just the leading sort column).
  *
  * At 100 TB this is a LAYOUT operator: `zorderBy` is one range-partitioned
  * sort (the same cost class as any clustered write), and the key itself is
  * a pure bit-twiddling expression — 2·bits shift/and/or terms, fully
  * inside whole-stage codegen, no UDF, no shuffle of its own.
  */
object ZOrder {

  /** Interleave the low `bits` bits of two non-negative long columns:
    * bit i of x → bit 2i, bit i of y → bit 2i+1.
    */
  def morton2(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"morton2 bits must be in [1, 31], got $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** The identical interleave as a DuckDB SQL fragment — generated from the
    * same loop so the two engines cannot drift.
    */
  def duckMorton2(x: String, y: String, bits: Int): String =
    (0 until bits).flatMap(i => Seq(
      s"((($x >> $i) & 1) << ${2 * i})",
      s"((($y >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")

  /** Range-partitioned sort by the interleaved key — the clustered-write
    * layout pass. Downstream `.write` produces files whose per-file min/max
    * spans are tight in both dimensions.
    */
  def zorderBy(df: DataFrame, x: Column, y: Column, bits: Int): DataFrame =
    df.orderBy(morton2(x, y, bits))

  // ---- queries -------------------------------------------------------------

  private val Bits = 16

  /** q83: lineitem z-ordered on (price bucket, quantity). floor() is
    * explicit in BOTH engines (Spark's long cast truncates, DuckDB's
    * rounds — floor removes the divergence).
    */
  val qZOrder = GraftQuery(
    "q83_zorder_layout",
    (s, dir) => {
      val x = least(floor(col("l_extendedprice") / 16.0), lit(65535.0)).cast("long")
      val y = least(floor(col("l_quantity")), lit(65535.0)).cast("long")
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          morton2(x, y, Bits).as("zorder"))
        .orderBy(col("zorder"), col("l_orderkey"), col("l_linenumber"))
    },
    Some(s"""
      SELECT l_orderkey, l_linenumber,
             ${duckMorton2(
               "CAST(least(floor(l_extendedprice / 16.0), 65535.0) AS BIGINT)",
               "CAST(least(floor(l_quantity), 65535.0) AS BIGINT)", Bits)} AS zorder
      FROM lineitem
      ORDER BY zorder, l_orderkey, l_linenumber"""))

  /** Clustering-depth audit of a file layout: assign rows to "files" by
    * range-partitioning a LAYOUT key, take each file's [min, max]
    * footer span on a PROBE column, and sweep-line the spans — the
    * max/avg number of files whose span covers a probe value is exactly
    * the file-skipping quality of that layout (depth 1 = perfect
    * clustering; depth ≈ n_files = every point lookup scans everything).
    * The OPTIMIZE/CLUSTER BY planning metric of the lakehouse world.
    *
    * Scale shape: file assignment is a narrow `floor(key / width)` map
    * (range buckets at fixed boundaries — no global row sort needed for
    * the AUDIT; the real write would range-partition); per-file min/max
    * is one aggregate; the sweep windows run over O(files) rows.
    */
  def clusteringDepth(rows: DataFrame, layoutKey: Column, probe: Column,
                      label: String, fileWidth: Long): DataFrame = {
    require(fileWidth >= 1, s"fileWidth must be >= 1, got $fileWidth")
    val files = rows
      .select(floor(layoutKey / fileWidth.toDouble).cast("long").as("file_id"),
        probe.cast("long").as("p"))
      .groupBy(col("file_id"))
      .agg(min(col("p")).as("mn"), max(col("p")).as("mx"),
        count(lit(1)).as("n_rows"))
    // sweep: +1 at mn, -1 just past mx (inclusive spans)
    val deltas = files.select(col("mn").as("x"), lit(1L).as("d"))
      .unionAll(files.select((col("mx") + 1).as("x"), lit(-1L).as("d")))
      .groupBy(col("x")).agg(sum(col("d")).as("net"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("x"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val swept = deltas.withColumn("depth", sum(col("net")).over(w))
    val stats = swept.agg(
      max(col("depth")).as("max_depth"),
      (sum(when(col("depth") > 0, col("depth")).otherwise(0L)).cast("double") /
        sum(when(col("depth") > 0, 1L).otherwise(0L)).cast("double"))
        .as("avg_depth"))
    files.agg(count(lit(1)).as("n_files")).crossJoin(broadcast(stats))
      .select(lit(label).as("layout"), col("n_files"), col("max_depth"),
        GraftQuery.duckRound(col("avg_depth"), 6).as("avg_depth"),
        // fraction of files a point probe must scan — the layout-quality
        // number that is comparable ACROSS layouts with different file counts
        GraftQuery.duckRound(col("avg_depth") / col("n_files"), 6).as("scan_frac"))
  }

  /** Natural (insert-order) vs z-ordered layout, audited on the same
    * probe column — the before/after OPTIMIZE report.
    */
  def layoutComparison(lineitem: DataFrame): DataFrame = {
    val x = least(floor(col("l_extendedprice") / 16.0), lit(65535.0)).cast("long")
    val y = least(floor(col("l_quantity")), lit(65535.0)).cast("long")
    val probe = least(floor(col("l_extendedprice") / 16.0), lit(65535.0))
    // widths are KEY-DOMAIN constants: ~500 orderkeys per "file" on the
    // dense sequential key; the morton key of a ≤13-bit price bucket ×
    // ≤6-bit quantity spans ≲2^26, carved into 128 ranges
    val natural = clusteringDepth(lineitem, col("l_orderkey"), probe,
      "natural", fileWidth = NaturalWidth)
    val zed = clusteringDepth(
      lineitem.select(morton2(x, y, Bits).as("zk"), probe.as("pr")),
      col("zk"), col("pr"), "zorder", fileWidth = ZWidth)
    natural.unionAll(zed).orderBy(col("layout"))
  }

  private val NaturalWidth = 500L
  private val ZWidth = (1L << 26) / 128

  private def duckDepth(src: String, keyExpr: String, probeExpr: String,
                        label: String, width: Long): String =
    s"""
      SELECT '$label' AS layout, n_files, max_depth, avg_depth, scan_frac
      FROM (
        WITH files AS (
          SELECT CAST(floor(($keyExpr) / $width.0) AS BIGINT) AS file_id,
                 min(CAST($probeExpr AS BIGINT)) AS mn,
                 max(CAST($probeExpr AS BIGINT)) AS mx
          FROM $src GROUP BY file_id),
        deltas AS (
          SELECT mn AS x, 1 AS d FROM files
          UNION ALL SELECT mx + 1, -1 FROM files),
        net AS (SELECT x, CAST(sum(d) AS BIGINT) AS net FROM deltas GROUP BY x),
        swept AS (
          SELECT x, net,
                 sum(net) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS depth
          FROM net)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM files) AS n_files,
               CAST(max(depth) AS BIGINT) AS max_depth,
               round(CAST(sum(CASE WHEN depth > 0 THEN depth ELSE 0 END)
                          AS DOUBLE)
                     / sum(CASE WHEN depth > 0 THEN 1 ELSE 0 END), 6)
                 AS avg_depth,
               round((CAST(sum(CASE WHEN depth > 0 THEN depth ELSE 0 END)
                           AS DOUBLE)
                      / sum(CASE WHEN depth > 0 THEN 1 ELSE 0 END))
                     / (SELECT count(*) FROM files), 6) AS scan_frac
        FROM swept)"""

  val qClusteringDepth = GraftQuery(
    "q171_clustering_depth",
    (s, dir) => layoutComparison(Tables.lineitem(s, dir)),
    Some({
      val probe = "least(floor(l_extendedprice / 16.0), 65535.0)"
      val morton = duckMorton2(
        "CAST(least(floor(l_extendedprice / 16.0), 65535.0) AS BIGINT)",
        "CAST(least(floor(l_quantity), 65535.0) AS BIGINT)", Bits)
      duckDepth("lineitem", "l_orderkey", probe, "natural", NaturalWidth) +
        "\nUNION ALL\n" +
        duckDepth("lineitem", morton, probe, "zorder", ZWidth) +
        "\nORDER BY layout"
    }))

  val queries: Seq[GraftQuery] = Seq(qZOrder, qClusteringDepth)
}
