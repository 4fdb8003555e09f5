package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import graft.GraftSession
import graft.wrm._

/** One benchmark run: `Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --out FILE`.
  *
  * Set-up (session, inputs, warm-up) is untimed by the pass; the timed
  * pass repeats whole passes of the workload's operations until `seconds`
  * have elapsed. Writes the run's numbers to `--out` and, traced, its
  * spans to `--out` with a `.trace.json` suffix. `run.py` checks the
  * outputs and prints the result line.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, out: Path)

  final case class Ctx(spark: SparkSession, tr: Tracer, counters: JobCounters, o: Opts) {
    /** Engine counters of every job run under spans named `name` in the
      * timed passes, and how many such spans there were. */
    def under(name: String): (Acc, Int) = {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val ss = tr.under("pass", name)
      (counters.total(ss.flatMap(tr.subtree).toSet), ss.size)
    }
  }

  /** What a workload hands back: the operations it attempted, every
    * pass's wall time, its set-up time after the session start (inputs,
    * warm-up passes), and what the checks need. An operation that throws
    * ends the run without a result, so none is counted failed. */
  final case class Outcome(attempted: Int, passNs: Seq[Long], setupNs: Long,
                           check: Map[String, Any], layers: Map[String, Double])

  val ProcessedAt: java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse("2025-01-01T00:00:00Z"))

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      Paths.get(kv("work")).toAbsolutePath, Paths.get(kv("out")).toAbsolutePath)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // One task thread: on a small shared box, stages spread over all cores
    // ran up to 3x apart between runs of one seed; one thread keeps a run's
    // passes within a few percent of each other.
    val spark = GraftSession.builder("local[1]")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counters = new JobCounters
    if (o.trace) spark.sparkContext.addSparkListener(counters)
    val tr = new Tracer(spark.sparkContext, o.trace)
    val ctx = Ctx(spark, tr, counters, o)
    val sessionNs = (System.currentTimeMillis() - jvmStartMs) * 1000000L
    try {
      val out = o.workload match {
        case "wrm_cycle" => new Cycle(ctx).run()
        case "registry_work" => new RegistryLoad(ctx).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val setupNs = sessionNs + out.setupNs
      val e2e = Map(
        "setup_s" -> setupNs / 1e9,
        "pass_s" -> median(out.passNs) / 1e9)
      val layers = mutable.LinkedHashMap[String, Double]()
      if (o.trace) {
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        layers ++= sessionLayers(tr, counters, out.passNs) ++ out.layers
        Files.write(Paths.get(o.out.toString + ".trace.json"),
          Json(traceDoc(tr, counters, layers)).getBytes(UTF_8))
      }
      val doc = Map(
        "workload" -> o.workload, "attempted" -> out.attempted, "failed" -> 0,
        "passes" -> out.passNs.size, "pass_s" -> out.passNs.map(_ / 1e9), "session_s" -> sessionNs / 1e9,
        "setup_s" -> setupNs / 1e9,
        "metrics" -> e2e, "layers" -> layers.toMap, "check" -> out.check)
      Files.write(o.out, Json(doc).getBytes(UTF_8))
    } finally spark.stop()
  }

  // ---- shared pieces ------------------------------------------------------

  /** The pipeline's per-date job: parse → enhance → validate → sink. */
  def dateJob(spark: SparkSession, tr: Tracer, rawRoot: Path, enhancedRoot: Path,
              date: String): Unit = tr("date") {
    val enhanced = tr("parse") {
      Enhance.enhance(RawParser.processPartition(spark, s"$rawRoot/dt=$date"), date,
        Some(ProcessedAt))
    }
    val valid = tr("validate") { Validation.validate(enhanced, Validation.enhancedChecks) }
    tr("write") { Sinks.overwriteDate(valid, enhancedRoot.toString) }
  }

  /** Parquet files and bytes per `dt=` partition under `root`. */
  def layout(root: Path): (Double, Double) = {
    val dirs = list(root).filter(_.getFileName.toString.startsWith("dt="))
    val files = dirs.flatMap(d => list(d).filter(_.toString.endsWith(".parquet")))
    val bytes = files.map(Files.size).sum
    (files.size.toDouble / dirs.size, bytes.toDouble / dirs.size)
  }

  def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.toArray.toSeq.map(_.asInstanceOf[Path]).sortBy(_.toString) finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
    finally s.close()
  }

  /** Whole passes until `seconds` have elapsed, at least one: the wall
    * time of each `pass`, each after an untimed `before`. */
  def timedPasses(seconds: Int, before: => Unit = ())(pass: => Unit): Seq[Long] = {
    val ns = mutable.ArrayBuffer.empty[Long]
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (ns.isEmpty || System.nanoTime() < deadline) {
      before
      ns += timed(pass)
    }
    ns.toSeq
  }

  def timed(body: => Unit): Long = { val t = System.nanoTime(); body; System.nanoTime() - t }

  def median(xs: Seq[Long]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Long], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def medianMs(spans: Seq[Tracer#Span]): Double =
    if (spans.isEmpty) 0.0 else median(spans.map(s => s.end - s.start)) / 1e6

  /** Engine counters over the timed pass, per pass. */
  def sessionLayers(tr: Tracer, c: JobCounters, passNs: Seq[Long]): Map[String, Double] = {
    val groups = tr.spans.filter(s => s.name == "pass" && s.parent < 0).flatMap(tr.subtree).toSet
    val a = c.total(groups)
    val n = passNs.size.toDouble
    Map(
      "session.stages" -> a.stages / n,
      "session.tasks" -> a.tasks / n,
      "session.task_run_ms" -> a.runMs / n,
      "session.task_cpu_ms" -> a.cpuNs / 1e6 / n,
      "session.gc_ms" -> a.gcMs / n,
      "session.shuffle_read_bytes" -> a.shuffleRead / n,
      "session.shuffle_write_bytes" -> a.shuffleWrite / n,
      "session.input_bytes" -> a.inputBytes / n,
      "session.spill_bytes" -> a.spill / n,
      "session.slot_use" -> a.runMs / (passNs.sum / 1e6))
  }

  def traceDoc(tr: Tracer, c: JobCounters, layers: collection.Map[String, Double]): Map[String, Any] = {
    val self = tr.spans.groupBy(_.name).map { case (name, ss) =>
      name -> Map("count" -> ss.size, "total_ms" -> ss.map(_.ms).sum,
        "self_ms" -> ss.map(tr.selfMs).sum)
    }
    Map(
      "layers" -> layers.toMap,
      "self_time" -> self,
      "spans" -> tr.spans.map(s => Seq(s.id, s.parent, s.name, s.start, s.end)),
      "spark_spans" -> c.sparkSpans.map(s => Seq(s.kind, s.id, s.group, s.start, s.end)))
  }

  /** Minimal JSON writer for the run's own result documents. */
  def Json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => Json(x)
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => Json(f.toDouble)
    case n: Number => n.toString
    case t: java.sql.Timestamp => (t.getTime / 1000 * 1000000L + t.getNanos / 1000).toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => Json(k.toString) + ":" + Json(x) }.mkString("{", ",", "}")
    case r: Row => Json(r.toSeq)
    case xs: Iterable[_] => xs.map(Json).mkString("[", ",", "]")
    case xs: Array[_] => Json(xs.toSeq)
    case x => Json(x.toString)
  }
}
