package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's calls into the program.
  *
  * Disabled (the untraced run) it only runs the body. Enabled, each span
  * records (id, parent, name, start, end) and becomes the thread's Spark
  * job group, so [[JobCounters]] can charge every job, stage and task to
  * the innermost span that caused it.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, start: Long, var end: Long = 0L) {
    def ms: Double = (end - start) / 1e6
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def apply[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val s = Span(spans.size, stack.headOption.getOrElse(-1), name, System.nanoTime())
    spans += s
    stack = s.id :: stack
    sc.setJobGroup(s.id.toString, name)
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.toString, spans(p).name)
        case None => sc.clearJobGroup()
      }
    }
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Duration minus the part of it that child spans cover. Children of one
    * span run one after another here, so their durations simply add. */
  def selfMs(s: Span): Double = s.ms - children(s.id).map(_.ms).sum

  /** Spans named `name` that lie under a span named `root`. */
  def under(root: String, name: String): Seq[Span] = {
    def rootOf(s: Span): Span = if (s.parent < 0) s else rootOf(spans(s.parent))
    spans.filter(s => s.name == name && rootOf(s).name == root).toSeq
  }

  /** Ids of `s` and every span below it. */
  def subtree(s: Span): Set[Int] = {
    val out = mutable.Set(s.id)
    spans.foreach(c => if (c.parent >= 0 && out(c.parent)) out += c.id)
    out.toSet
  }
}

/** Engine work summed over some jobs. */
final class Acc {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, inputBytes, inputRecords,
      outputRecords, spill = 0L
  def +=(o: Acc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; inputBytes += o.inputBytes
    inputRecords += o.inputRecords; outputRecords += o.outputRecords; spill += o.spill
  }
}

/** Spark-side counters, charged to the job group (span id) that ran them. */
final class JobCounters extends SparkListener {
  /** Spark job and stage spans: (kind, id, group, start ms, end ms). */
  final case class SparkSpan(kind: String, id: Int, group: Int, start: Long, end: Long)

  private val byGroup = mutable.Map.empty[Int, Acc]
  private val stageGroup = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]
  val sparkSpans = mutable.ArrayBuffer.empty[SparkSpan]

  private def acc(g: Int): Acc = byGroup.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .map(_.toInt).getOrElse(-1)
    acc(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
    jobStart(e.jobId) = (g, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t) => sparkSpans += SparkSpan("job", e.jobId, g, t, e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val g = stageGroup.getOrElse(info.stageId, -1)
    acc(g).stages += 1
    sparkSpans += SparkSpan("stage", info.stageId, g,
      info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = acc(stageGroup.getOrElse(e.stageId, -1))
    a.tasks += 1
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
      a.outputRecords += m.outputMetrics.recordsWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Sum over the given job groups. */
  def total(groups: Set[Int]): Acc = synchronized {
    val out = new Acc
    byGroup.foreach { case (g, a) => if (groups(g)) out += a }
    out
  }
}
