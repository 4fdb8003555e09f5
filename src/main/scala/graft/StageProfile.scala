package graft

import scala.collection.mutable

/** Per-stage wall/task profile of one registry query — the evidence tool
  * behind plan-flip triage (e.g. the q129 sf0.1-vs-sf1 inverse-scaling
  * investigation): run the same query at two scale factors and diff where
  * the time actually goes, instead of guessing from the static plan.
  *
  * Usage: scripts/run.sh graft.StageProfile <sfDir> <name> [runs]
  * Prints, for the LAST run (post-JIT), one line per stage: wall span,
  * summed task time, task count, max task, and the stage's name line.
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StageProfile <sfDir> <name> [runs]")
    val (dir, name) = (args(0), args(1))
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.builder(shufflePartitions = GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    case class St(var submitted: Long = 0, var completed: Long = 0,
                  var taskSum: Long = 0, var taskMax: Long = 0,
                  var nTasks: Int = 0, var name: String = "")
    val stages = mutable.LinkedHashMap[Int, St]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val st = stages.getOrElseUpdate(i.stageId, St())
        st.submitted = i.submissionTime.getOrElse(0L)
        st.completed = i.completionTime.getOrElse(0L)
        st.name = i.name.linesIterator.next()
      }
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val st = stages.getOrElseUpdate(e.stageId, St())
        val d = e.taskInfo.duration
        st.taskSum += d; st.taskMax = math.max(st.taskMax, d); st.nTasks += 1
      }
    }

    (1 to runs).foreach { r =>
      spark.catalog.clearCache()
      if (r == runs) { stages.clear(); spark.sparkContext.addSparkListener(listener) }
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      val n = df.collect().length
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"run $r: $secs%.3f s ($n rows)")
      if (r == runs && sys.env.contains("SPARK_GRAFT_PROFILE_EXPLAIN"))
        // after the action the adaptive plan is final — stage ids here
        // line up with the listener table below
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    // drain the async listener bus deterministically before reading — a
    // fixed sleep can truncate the table on a loaded box
    org.apache.spark.graftbridge.ListenerBridge
      .waitUntilListenerBusEmpty(spark.sparkContext, 30000)
    println(f"${"stage"}%-6s ${"wall_s"}%8s ${"tasksum_s"}%10s ${"n"}%5s ${"max_s"}%7s  name")
    stages.toSeq.sortBy(_._1).foreach { case (id, s) =>
      println(f"$id%-6d ${(s.completed - s.submitted) / 1e3}%8.2f ${s.taskSum / 1e3}%10.2f ${s.nTasks}%5d ${s.taskMax / 1e3}%7.2f  ${s.name.take(90)}")
    }
    spark.stop()
  }
}
