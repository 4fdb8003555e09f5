package graft.tools

import scala.collection.immutable.ListMap

import graft.{GraftSession, Json}
import org.apache.spark.sql.functions._

/** Measure this box's irreducible per-stage and per-job scheduling floor —
  * the calibration behind the iterative-row perf budget (VERDICT r16 item
  * 1): rows like q93/q106 run ~20-30 near-empty stages whose wall is
  * dominated not by tasks but by the gap between stages (AQE query-stage
  * materialization, DAG scheduling, task serialization round-trips).
  * DuckDB pays none of this at toy scale, so the sf0.1 pair ratio on
  * iterative shapes has a floor component no plan change can remove; this
  * tool puts a NUMBER on it so SCALE.md can budget it honestly.
  *
  * Method: time shuffle chains of depth n (each `repartition(32, expr)`
  * over a 32-row frame is one AQE-materialized stage of near-zero task
  * work) for several n, min-of-k; the slope of wall(n) is the per-stage
  * floor. Separately time m trivial one-stage jobs back-to-back; the
  * slope of wall(m) is the per-job (action) floor.
  *
  * Usage: scripts/run.sh graft.tools.StageFloor [runsPerPoint=5]
  * Prints one JSON line: {"per_stage_floor_ms":…, "per_job_floor_ms":…,
  * "chain_points":{…}, "job_points":{…}}
  */
object StageFloor {
  def main(args: Array[String]): Unit = {
    val runs = if (args.nonEmpty) args(0).toInt else 5
    val spark = GraftSession.builder(shufflePartitions = GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time(fn: => Unit): Double = {
      val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e6
    }

    // n chained shuffle stages in ONE action: each repartition keys on a
    // value that changes per step, so no exchange is elided or reused
    def chain(n: Int): Unit = {
      var df = spark.range(32).toDF("x")
      (1 to n).foreach { i =>
        df = df.repartition(32, col("x") + lit(i))
          .select((col("x") + lit(1)).as("x"))
      }
      df.write.format("noop").mode("overwrite").save()
    }

    // m trivial single-stage actions back-to-back
    def jobs(m: Int): Unit =
      (1 to m).foreach(_ => spark.range(32).toDF("x")
        .write.format("noop").mode("overwrite").save())

    // warm: JIT, codegen cache, noop sink classloading
    (1 to 3).foreach { _ => chain(3); jobs(3) }

    val chainNs = Seq(5, 15, 30, 45)
    val chainPts = chainNs.map(n => n -> (1 to runs).map(_ => time(chain(n))).min)
    val jobMs = Seq(5, 20, 40)
    val jobPts = jobMs.map(m => m -> (1 to runs).map(_ => time(jobs(m))).min)

    def slope(pts: Seq[(Int, Double)]): Double = {
      // least-squares slope of wall vs count — the marginal per-unit floor
      val n = pts.length.toDouble
      val sx = pts.map(_._1.toDouble).sum; val sy = pts.map(_._2).sum
      val sxx = pts.map(p => p._1.toDouble * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      (n * sxy - sx * sy) / (n * sxx - sx * sx)
    }

    val perStage = slope(chainPts)
    val perJob = slope(jobPts)
    def ms(v: Double): Double = math.round(v * 10) / 10.0
    def points(pts: Seq[(Int, Double)]) = ListMap.from(pts.map { case (k, v) => k.toString -> ms(v) })
    println(Json.write(ListMap("per_stage_floor_ms" -> ms(perStage),
      "per_job_floor_ms" -> ms(perJob), "chain_points" -> points(chainPts),
      "job_points" -> points(jobPts), "runs_per_point" -> runs)))
    spark.stop()
  }
}
