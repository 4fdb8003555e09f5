package graft.relational

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Poisson bootstrap of a mean — THE resampling technique that survives
  * scale: classic bootstrap draws n rows with replacement per replicate
  * (a full shuffle-sample pass × B), while the Poisson bootstrap gives
  * every row an independent Poisson(1) weight per replicate, so all B
  * resampled means come out of ONE narrow pass + one O(B)-group
  * aggregate. The replicate spread is the standard error; empirical
  * quantiles of the replicate means are the CI.
  *
  * Determinism (what makes a "random" resample oracle-able): the
  * Poisson draw is a fixed inverse-CDF table lookup on a uniform from
  * the [[graft.text.Md5P61]] family rehash — ONE md5 per row, then one
  * exact (x·A_b + B_b) mod (2⁶¹−1) per replicate, in DECIMAL(38,0)
  * here and HUGEINT in the oracle (both exact: 60-bit × 61-bit products
  * stay under 38 digits). The per-(row, replicate) digest alternative
  * costs B md5s per row — measured ~2× this form's runtime. The
  * cumulative-e⁻¹ thresholds are shared literals; weighted sums
  * accumulate as weight × DECIMAL — exact, order-independent.
  *
  * Scale shape: the replicate kernel is a B-element literal-array
  * explode (narrow flatMap); partial aggregation collapses every
  * partition to ≤ B rows before the shuffle, so the exchange carries
  * O(B × partitions) rows whatever the fact-table size. No window, no
  * join.
  */
object Bootstrap {

  /** Cumulative Poisson(1) CDF as shared string literals (17 sig digits
    * — the exact shortest-repr doubles, identical parsed value in any
    * engine). P(X > 6) ≈ 8.3e-5 is folded into weight 7.
    */
  val PoissonCdf: Seq[String] = Seq(
    "0.36787944117144233", // P(0)
    "0.73575888234288467", // +P(1)
    "0.91969860292860584", // +P(2)
    "0.98101184312384615", // +P(3)
    "0.99634015317265628", // +P(4)
    "0.99940581518241827", // +P(5)
    "0.99991675885071262") // +P(6)

  /** All `reps` Poisson weights of one row in a single tight loop: the
    * [[graft.text.Md5P61]] family rehash of the row's base in pure long
    * arithmetic (Math.multiplyHigh — exact, no BigDecimal), then the
    * inverse-CDF lookup. The composable DECIMAL(38,0) form of the same
    * modmul is semantically identical but runs every product through
    * BigDecimal — measured 17 s vs this kernel's sub-second at sf0.1.
    *
    * Codegen'd (VERDICT r17 item 7): the first cut was CodegenFallback,
    * which (a) boxed all `reps` weights per row into a GenericArrayData
    * and (b) split the whole-stage-codegen span feeding the explode.
    * doGenCode calls [[evalArray]] on the expression instance (one
    * virtual call per row around the same tight loop — the loop, not
    * call dispatch, is the cost) and the result is an
    * UnsafeArrayData.fromPrimitiveArray: no boxing on either path.
    */
  case class PoissonWeights(child: org.apache.spark.sql.catalyst.expressions.Expression,
                            reps: Int)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.types.{ArrayType, IntegerType, DataType}
    require(reps >= 1, s"reps must be >= 1, got $reps")
    private val as = Array.tabulate(reps)(graft.text.Md5P61.familyA)
    private val bs = Array.tabulate(reps)(graft.text.Md5P61.familyB)
    private val cdf = PoissonCdf.map(_.toDouble).toArray
    private val mD = graft.text.Md5P61.M.toDouble
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    def evalArray(x: Long): org.apache.spark.sql.catalyst.util.ArrayData = {
      val out = new Array[Int](reps)
      var b = 0
      while (b < reps) {
        val u = graft.text.Md5P61.mulAddMod(x, as(b), bs(b)).toDouble / mD
        var w = 0
        while (w < cdf.length && u >= cdf(w)) w += 1
        out(b) = w
        b += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
    }
    override def nullSafeEval(base: Any): Any =
      evalArray(base.asInstanceOf[Long])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("poissonWeights", this, classOf[PoissonWeights].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalArray($c);")
    }
    override protected def withNewChildInternal(
        c: org.apache.spark.sql.catalyst.expressions.Expression): PoissonWeights =
      copy(child = c)
  }

  /** Per-replicate bootstrap means of o_totalprice: (b, n_eff,
    * boot_mean) for b = 0..reps-1, n_eff the replicate's total weight.
    */
  def bootstrapMeans(orders: DataFrame, reps: Int): DataFrame = {
    require(reps >= 2, s"bootstrap needs >= 2 replicates, got $reps")
    val dec = DecimalType(18, 2)
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val weights = ColumnBridge.column(PoissonWeights(
      ColumnBridge.expression(
        conv(substring(md5(col("o_orderkey").cast("string")), 1, 15), 16, 10)
          .cast("long")),
      reps))
    // the replicate kernel is CPU-dense per input byte (one md5 + B
    // modmuls + a B-wide explode per row): a small single-row-group
    // parquet scans as ONE partition and would run the whole kernel
    // serially (measured: the entire 3.8 s of q165 in one task at
    // sf0.1). Spread the slim 2-column input across the session's
    // shuffle parallelism first — the q129 rule: compute-bound stages
    // get pinned width, byte-bound ones stay with AQE.
    Tables.spread(orders.select(col("o_totalprice"), col("o_orderkey")))
      .select(col("o_totalprice"), posexplode(weights).as(Seq("b", "w")))
      .withColumn("b", col("b").cast("long"))
      .groupBy(col("b"))
      .agg(
        sum(col("w")).as("n_eff"),
        sum((col("w") * col("o_totalprice").cast(dec))
          .cast(DecimalType(28, 2))).as("ws"))
      // n_eff = 0 guard (oracle mirrors with CASE): on a tiny input a
      // replicate can draw Poisson weight 0 for every row — that
      // replicate has no mean (NULL), it is not a divide-by-zero abort
      .select(col("b").cast("long").as("b"), col("n_eff"),
        when(col("n_eff") === 0, lit(null).cast("double"))
          .otherwise(GraftQuery.duckRound(col("ws").cast("double") /
            col("n_eff").cast("double"), 4)).as("boot_mean"))
      .orderBy(col("b"))
  }

  /** Empirical [lo, hi] percentile CI over the replicate means —
    * driver-side math on the B-row (construction-bounded) result.
    * Nearest-rank convention: index = ⌈q·n⌉ − 1 clamped to [0, n−1]
    * (q=0.025, n=40 → the smallest mean; the previous (q·n).toInt gave
    * the 2nd smallest, a slightly narrow CI). Pinned in BootstrapSpec.
    */
  def percentileCi(boot: DataFrame, lo: Double = 0.025,
                   hi: Double = 0.975): (Double, Double) = {
    require(0 <= lo && lo < hi && hi <= 1, s"bad CI bounds [$lo, $hi]")
    val means = boot.select(col("boot_mean")).collect()
      .map(_.getDouble(0)).sorted
    require(means.nonEmpty, "no replicates")
    def at(q: Double): Double = {
      val idx = math.ceil(q * means.length).toInt - 1
      means(math.max(0, math.min(means.length - 1, idx)))
    }
    (at(lo), at(hi))
  }

  // ---- queries -------------------------------------------------------------

  private def duckCase: String =
    PoissonCdf.zipWithIndex
      .map { case (c, k) => s"WHEN u < CAST($c AS DOUBLE) THEN $k" }
      .mkString("CASE ", " ", s" ELSE ${PoissonCdf.size} END")

  val qBootstrap = GraftQuery(
    "q165_bootstrap_ci",
    (s, dir) => bootstrapMeans(Tables.orders(s, dir), reps = 40), {
      val M = graft.text.Md5P61.M
      val base = graft.text.Md5P61.duckBase("CAST(o_orderkey AS VARCHAR)")
      Some(s"""
      WITH ${graft.text.Md5P61.duckFams(40)},
      based AS (
        SELECT o_totalprice, CAST($base AS HUGEINT) AS base
        FROM orders),
      drawn AS (
        SELECT f AS b, o_totalprice,
               CAST((base * af + bf) % $M AS DOUBLE) / $M.0 AS u
        FROM based, fams),
      weighted AS (
        SELECT b, o_totalprice, $duckCase AS w
        FROM drawn)
      SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
             CASE WHEN sum(w) = 0 THEN NULL
                  ELSE round(CAST(sum(CAST(w * CAST(o_totalprice AS DECIMAL(18,2))
                                      AS DECIMAL(28,2))) AS DOUBLE)
                        / CAST(sum(w) AS DOUBLE), 4)
             END AS boot_mean
      FROM weighted GROUP BY b ORDER BY b""")
    })

  val queries: Seq[GraftQuery] = Seq(qBootstrap)
}
