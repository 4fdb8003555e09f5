package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** `GraftQuery.duckRound` against an exact Scala reference of DuckDB's
  * `round(x, d)` on a double: `std::round(x·10ᵈ) / 10ᵈ`, half away from
  * zero on the binary value of `x·10ᵈ` (`BigDecimal(double)` is that exact
  * value, `HALF_UP` rounds half away from zero), and `x` itself where
  * `x·10ᵈ` is not finite. Each input is evaluated twice: from a local
  * relation (Catalyst folds it with the interpreted evaluator) and from
  * parquet (whole-stage codegen).
  *
  * The comparison is `==`, under which −0.0 equals 0.0: DuckDB keeps −0.0
  * for a negative that rounds to zero, Spark's scale-0 `round` returns 0.0.
  */
class DuckRoundPropertySpec extends SparkSpec {
  import spark.implicits._

  private val digits = Seq(1, 2, 4, 6, 8, 12)

  private def reference(x: Double, d: Int): Double = {
    val p = math.pow(10.0, d)
    val s = x * p
    if (s.isNaN || s.isInfinite) x
    else new java.math.BigDecimal(s).setScale(0, java.math.RoundingMode.HALF_UP)
      .doubleValue / p
  }

  private def same(a: Double, b: Double): Boolean = a == b || (a.isNaN && b.isNaN)

  /** Every input against the reference, through both evaluation paths. */
  private def check(xs: Seq[java.lang.Double]): Unit = {
    val local = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("i", "x")
    val dir = java.nio.file.Files.createTempDirectory("duck-round").toFile
    def rounded(df: DataFrame) =
      df.select(col("i") +: digits.map(d => GraftQuery.duckRound(col("x"), d)): _*)
        .collect().map(r => r.getLong(0).toInt -> r).toMap
    try {
      local.write.mode("overwrite").parquet(dir.getPath)
      Seq("local" -> local, "parquet" -> spark.read.parquet(dir.getPath)).foreach {
        case (path, df) =>
          val got = rounded(df)
          xs.indices.foreach { i =>
            digits.zipWithIndex.foreach { case (d, k) =>
              val r = got(i)
              if (xs(i) == null) assert(r.isNullAt(k + 1), s"$path: NULL at d=$d")
              else {
                val want = reference(xs(i), d)
                val have = r.getDouble(k + 1)
                assert(same(have, want), s"$path: duckRound(${xs(i)}, $d) = $have, want $want")
              }
            }
          }
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  private def boxed(xs: Seq[Double]): Seq[java.lang.Double] = xs.map(Double.box)

  test("duckRound matches DuckDB's round on the probes that tell the rules apart") {
    val probes = Seq(9.575 -> 9.57, 10.075 -> 10.07, -9.575 -> -9.57, 0.285 -> 0.28,
      0.125 -> 0.13, -0.125 -> -0.13, 1.7e307 -> 1.7e307)
    val got = probes.map(_._1).toDF("x")
      .select(GraftQuery.duckRound(col("x"), 2)).as[Double].collect().toSeq
    assert(got == probes.map(_._2))
  }

  test("duckRound equals the DuckDB formula on random doubles of every magnitude") {
    val rnd = new scala.util.Random(20261020L)
    val uniform = Seq.fill(400)((rnd.nextDouble() - 0.5) * 2e6)
    val unit = Seq.fill(200)(rnd.nextDouble() - 0.5)
    val anyBits = Seq.fill(200)(java.lang.Double.longBitsToDouble(rnd.nextLong()))
    check(boxed(uniform ++ unit ++ anyBits))
  }

  test("duckRound equals the DuckDB formula on exact halves, means and negatives") {
    val rnd = new scala.util.Random(7L)
    val halves = for {
      d <- digits
      k <- Seq.fill(40)(rnd.nextInt(1000000).toLong)
      sign <- Seq(1.0, -1.0)
    } yield sign * (k + 0.5) / math.pow(10.0, d)
    val means = for {
      den <- Seq(8, 40, 400, 4000)
      num <- Seq.fill(40)(rnd.nextInt(100000))
      sign <- Seq(1.0, -1.0)
    } yield sign * num.toDouble / den
    val fixed = Seq(383.0 / 40, 403.0 / 40, 0.5, -0.5, 2.5, -2.5, 12.5, -12.5,
      0.49999999999999994, -0.49999999999999994, -0.004, 0.0, -0.0)
    check(boxed(halves ++ means ++ fixed))
  }

  test("duckRound equals the DuckDB formula near 2^53 and near Double.MaxValue / 10^d") {
    val two53 = math.pow(2, 53)
    val nearExact = for {
      d <- digits
      k <- Seq(-3.0, -1.0, -0.5, 0.0, 0.5, 1.0, 3.0)
      sign <- Seq(1.0, -1.0)
    } yield sign * (two53 + k) / math.pow(10.0, d)
    val nearMax = for {
      d <- digits
      f <- Seq(0.5, 0.999999, 1.0, 1.000001, 2.0)
      sign <- Seq(1.0, -1.0)
    } yield sign * Double.MaxValue / math.pow(10.0, d) * f
    check(boxed(nearExact ++ nearMax ++ Seq(1e19, -1e19, 1.5e300, Double.MaxValue,
      -Double.MaxValue, Double.MinPositiveValue)))
  }

  test("duckRound passes NaN, infinities and NULL through") {
    check(Seq(Double.box(Double.NaN), Double.box(Double.PositiveInfinity),
      Double.box(Double.NegativeInfinity), null))
  }
}
