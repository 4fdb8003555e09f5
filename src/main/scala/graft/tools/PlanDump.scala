package graft.tools

import java.io.File
import java.nio.file.{Files, Paths}

import graft.GraftSession
import org.apache.spark.sql.execution.FormattedMode

/** Dump `explain("formatted")` for registered queries into per-query text
  * files — the plan evidence the optimization rounds commit under
  * `plans/r<N>/<query>_<suffix>.txt` so plan-shape claims (Exchange counts,
  * join strategies, PushedFilters) are checkable without running Spark.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> [sfDir] [names...]
  *   - no names: every non-streaming registered query (streaming rows
  *     execute a real micro-batch engine inside `run`; their batch-side
  *     result plan is not the executed streaming plan, so dumping it would
  *     be misleading evidence).
  *   - explain on the LOGICAL-to-physical compile only: nothing is executed
  *     beyond what building the DataFrame itself requires (a few operators
  *     collect tiny bounds/centroid frames while composing the plan).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val spark = GraftSession.builder(shufflePartitions = GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val all = graft.SparkEntry.queries
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else all.keys.toSeq.filterNot(_.startsWith("stream_")).sorted
    Files.createDirectories(Paths.get(outDir))
    var failed = List.empty[String]
    names.foreach { n =>
      try {
        val df = all(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(FormattedMode)
        Files.writeString(new File(outDir, s"$n$suffix.txt").toPath, txt)
        println(s"[plandump] $n ok (${txt.length} chars)")
      } catch {
        case e: Throwable =>
          failed ::= n
          println(s"[plandump] $n FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    println(s"[plandump] done: ${names.size - failed.size} ok, ${failed.size} failed ${failed.reverse.mkString(",")}")
    spark.stop()
  }
}
