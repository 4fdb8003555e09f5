package graft.tools

import graft.{GraftSession, Tables}
import graft.vector.SemDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empirical dense-vs-pruned crossover for the SemDedup assignment
  * dispatch (VERDICT r16 item 6: DenseSeedMax/DenseFallbackMax/
  * DensePairBudget were asserted, not measured). Sweeps k over a
  * CLUSTERED corpus (64 well-separated directions + 5% jitter — the
  * geometry the two-level prune exists for) and a UNIFORM one (the
  * prune's provable worst case), timing the dense and the non-adaptive
  * pruned assignment plans called directly. Corpora are deterministic
  * hash-generated expressions — no RNG state, any partitioning produces
  * identical vectors.
  *
  * Usage: scripts/run.sh graft.tools.SemDedupSweep [n=100000] [runs=2]
  *          [corpus=both|clustered|uniform] [kList=64,128,...]
  * Prints one line per (corpus, k): corpus k dense_s pruned_s ratio.
  * The corpus/kList args exist so a sweep interrupted mid-grid can be
  * resumed from the failed cell instead of re-paying the full grid.
  */
object SemDedupSweep {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 100000
    val runs = if (args.length > 1) args(1).toInt else 2
    val corpusArg = if (args.length > 2) args(2) else "both"
    val kList = if (args.length > 3) args(3).split(",").map(_.toInt).toSeq
                else Seq(64, 128, 256, 1024, 4096, 8192)
    val dims = 64
    val spark = GraftSession.builder(shufflePartitions = GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // per-(id, dim) pseudo-random double in [-1, 1]
    def noise(dim: org.apache.spark.sql.Column, salt: String) =
      (pmod(xxhash64(col("vec_id"), dim, lit(salt)), lit(2000001L)) - lit(1000000L))
        .cast("double") / lit(1000000.0)

    def corpus(clustered: Boolean): DataFrame = {
      val base = Tables.spread(spark.range(n).toDF("vec_id"))
      val vec =
        if (!clustered)
          transform(sequence(lit(1), lit(dims)), i => noise(i, "uniform"))
        else {
          val c = pmod(col("vec_id"), lit(dims.toLong))
          transform(sequence(lit(1), lit(dims)), i =>
            when((i - 1).cast("long") === c, lit(1.0)).otherwise(lit(0.0))
              + lit(0.05) * noise(i, "jitter"))
        }
      base.select(col("vec_id"), vec.cast("array<float>").as("embedding"))
        .localCheckpoint()
    }

    def timeAssign(assign: => DataFrame): Double =
      (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        assign.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min

    println(f"n=$n dims=$dims runs=$runs (min-of-runs wall, s)")
    println("corpus     k      dense   pruned   pruned/dense")
    val corpora = corpusArg match {
      case "clustered" => Seq(true)
      case "uniform"   => Seq(false)
      case _           => Seq(true, false)
    }
    for (clustered <- corpora;
         k <- kList) {
      val vecs = corpus(clustered)
      val d = timeAssign(SemDedup.assignDense(vecs, k))
      val p = timeAssign(SemDedup.assignPruned(vecs, k, adaptive = false))
      val name = if (clustered) "clustered" else "uniform"
      println(f"$name%-10s $k%-6d $d%7.2f $p%8.2f ${p / d}%8.2f")
      vecs.unpersist()
    }
    spark.stop()
  }
}
