package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import graft.sources.RawTextSink
import graft.wrm._
import Main._

/** `wrm_cycle`: one cycle of the reference pipeline, its write path then
  * its read path. Each pass lands the seeded poll stream through
  * [[RawTextSink.write]], in poll order, onto a raw tree that already
  * holds a history of earlier dates; runs the per-date job for each date
  * the stream covered; then serves one dashboard refresh over the table
  * just written: the seven panels' requests in a fixed order, every
  * result collected as the dashboard receives it. Between passes the new
  * dates are removed, so every pass starts from the same tree.
  */
final class Cycle(ctx: Ctx) {
  import ctx.{o, spark, tr}
  val Stations = 200
  val Bikes = 100
  val NPolls = 100
  val HistoryDates = 2
  val HistoryFilesPerDate = 500
  val day0: LocalDate = LocalDate.of(2025, 6, 1).plusDays(o.seed % 20)

  /** Forces the executed plan first, so its time shows as its own span. */
  def collect(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    tr("plan") { df.queryExecution.executedPlan }
    df.collect()
  }

  def requests(table: DataFrame): Seq[(String, () => Any)] = Seq(
    "latest" -> (() => collect(Views.latestPerStation(table))),
    "daily" -> (() => collect(DailyStats.stationDailySummary(table))),
    "movement" -> (() => collect(DailyStats.bikeMovementSummary(table))),
    "density" -> (() => collect(Density.gridDensity(Views.latestPerStation(table)))),
    "top10" -> (() => collect(Summary.top10Recent(table))),
    "summary" -> { () =>
      val s = Summary.stationSummary(spark)
      Map("total" -> s.totalRecords, "types" -> s.recordTypeCounts, "top10" -> s.top10Recent)
    },
    "per_file" -> (() => collect(Enhance.perFileCounts(table))))
  val RequestNames = Seq("latest", "daily", "movement", "density", "top10", "summary", "per_file")

  /** One cycle; returns the duplicates skipped and the requests' results. */
  def pass(raw: Path, enhanced: Path, polls: Polls,
           payloads: IndexedSeq[String]): (Int, Map[String, Any]) = tr("pass") {
    var dups = 0
    var k = 0
    while (k < payloads.size) {
      val r = tr("land") { RawTextSink.write(raw, payloads(k), polls.time(k)) }
      if (r.skippedDuplicate) dups += 1
      k += 1
    }
    polls.dates.foreach(d => dateJob(spark, tr, raw, enhanced, d))
    // the dashboard picks up the table as it now stands
    tr("register") { Views.registerFromPath(spark, enhanced.toString) }
    val reqs = requests(spark.table(Views.Base))
    (dups, reqs.map { case (name, req) => name -> tr(name) { req() } }.toMap)
  }

  def reset(raw: Path, enhanced: Path, polls: Polls): Unit = {
    polls.dates.foreach(d => deleteTree(raw.resolve(s"dt=$d")))
    deleteTree(enhanced)
  }

  def run(): Outcome = {
    val polls = new Polls(o.seed, Stations, Bikes, NPolls, day0)
    var payloads: IndexedSeq[String] = null
    val raw = o.work.resolve("wrm").resolve("raw")
    val enhanced = o.work.resolve("wrm").resolve("enhanced")
    val setupNs = timed {
      tr("setup") {
        payloads = (0 until NPolls).map(polls.payload)
        WrmFixture.writeRawFiles(raw,
          (1 to HistoryDates).map(d => day0.minusDays(d).toString), HistoryFilesPerDate)
      }
      // Two untimed passes: a JVM's first execution of each plan runs 2-3x
      // slower (class loading, code generation, JIT), and with one warm-up
      // pass the first timed pass still ran about 20% slower than the next.
      tr("warmup") {
        (0 until 2).foreach { _ =>
          reset(raw, enhanced, polls)
          pass(raw, enhanced, polls, payloads)
        }
      }
    }

    var dups = 0
    var results = Map.empty[String, Any]
    val passNs = timedPasses(o.seconds, reset(raw, enhanced, polls)) {
      val (d, r) = pass(raw, enhanced, polls, payloads)
      dups = d
      results = r
    }
    val resultsFile = o.out.getFileName.toString + ".results.json"
    Files.write(o.out.resolveSibling(resultsFile), Json(results).getBytes(UTF_8))

    val rawFiles = {
      val s = Files.walk(raw)
      try s.filter(_.toString.endsWith(".txt")).count() finally s.close()
    }
    val (filesPerDate, bytesPerDate) = layout(enhanced)
    val layers = mutable.LinkedHashMap(
      "wrm.files_per_date" -> filesPerDate, "wrm.bytes_per_date" -> bytesPerDate)
    if (tr.enabled) {
      val landNs = tr.under("pass", "land").map(s => s.end - s.start)
      val (dateAcc, nDates) = ctx.under("date")
      val (writeAcc, _) = ctx.under("write")
      val (reqAcc, nReq) = {
        val accs = RequestNames.map(ctx.under)
        val a = new Acc
        accs.foreach(x => a += x._1)
        (a, accs.map(_._2).sum)
      }
      // raw data lines the date jobs had to read, per pass
      val rawLines = polls.dates.map { d =>
        list(raw.resolve(s"dt=$d")).map(f =>
          new String(Files.readAllBytes(f), UTF_8).count(_ == '\n')).sum
      }.sum
      val n = passNs.size.toDouble
      layers ++= Seq(
        "sources.land_ms" -> median(landNs) / 1e6,
        "sources.land_p95_ms" -> quantile(landNs, 0.95) / 1e6,
        // fixed by the generator and pinned by the output checks
        "sources.landed" -> (NPolls - dups).toDouble,
        "sources.duplicates_skipped" -> dups.toDouble,
        "sources.raw_files" -> rawFiles.toDouble,
        "wrm.parse_ms" -> medianMs(tr.under("pass", "parse")),
        "wrm.validate_ms" -> medianMs(tr.under("pass", "validate")),
        "wrm.write_ms" -> medianMs(tr.under("pass", "write")),
        "wrm.rows_out" -> writeAcc.outputRecords / n,
        "wrm.raw_reads_per_line" -> dateAcc.inputRecords / n / rawLines,
        "session.jobs_per_date" -> dateAcc.jobs.toDouble / nDates,
        "wrm.view.register_ms" -> medianMs(tr.under("pass", "register")),
        "wrm.view.latest_ms" -> medianMs(tr.under("pass", "latest")),
        "wrm.view.daily_ms" -> medianMs(tr.under("pass", "daily")),
        "wrm.view.movement_ms" -> medianMs(tr.under("pass", "movement")),
        "wrm.view.density_ms" -> medianMs(tr.under("pass", "density")),
        "wrm.view.top10_ms" -> medianMs(tr.under("pass", "top10")),
        "wrm.view.per_file_ms" -> medianMs(tr.under("pass", "per_file")),
        "wrm.view.summary_ms" -> medianMs(tr.under("pass", "summary")),
        "session.plan_ms" -> medianMs(tr.under("pass", "plan")),
        "session.jobs_per_request" -> reqAcc.jobs.toDouble / nReq)
    }
    Outcome((NPolls + RequestNames.size) * passNs.size, passNs, setupNs,
      Map("raw" -> raw.toString, "enhanced" -> enhanced.toString,
        "stations" -> Stations, "bikes" -> Bikes, "polls" -> NPolls,
        "day0" -> day0.toString, "seed" -> o.seed, "duplicates_skipped" -> dups,
        "history_files" -> HistoryDates * HistoryFilesPerDate, "raw_files" -> rawFiles,
        "results" -> resultsFile),
      layers.toMap)
  }
}

/** `registry_work`: rows of the engine's registry (`SparkEntry.queries`)
  * over the tables set-up generates from the seed ([[RegistryTables]]).
  * A pass runs each row once, in a fixed order; each row runs after
  * `clearCache()` and is forced with a `noop` write, as `graft.Bench`
  * does. The row is the operation.
  */
final class RegistryLoad(ctx: Ctx) {
  import ctx.{o, spark, tr}

  /** (module, row): a similarity join, a JSON extraction and an
    * aggregation from `relational`, a span-removal and a scoring row from
    * `text`. */
  val Rows: Seq[(String, String)] = Seq(
    "relational" -> "q105_fuzzy_join",
    "relational" -> "q107_json_extract",
    "relational" -> "q143_cheapest_supplier",
    "text" -> "q70_substring_removal",
    "text" -> "q108_readability")

  def run(): Outcome = {
    val dir = o.work.resolve("registry").toString
    val queries = graft.SparkEntry.queries
    val results = o.work.resolve("results")
    def force(row: String): Unit = {
      spark.catalog.clearCache()
      queries(row)(spark, dir).write.format("noop").mode("overwrite").save()
    }
    val setupNs = timed {
      tr("setup") { RegistryTables.write(spark, o.seed, dir) }
      // One warm-up pass, which writes each row's result for the checks:
      // a row's first execution in a JVM runs 1.3-1.5x slower. A second
      // warm-up pass did not make the first timed pass faster.
      tr("warmup") {
        Rows.foreach { case (_, row) =>
          spark.catalog.clearCache()
          queries(row)(spark, dir).coalesce(1).write.parquet(results.resolve(row).toString)
        }
      }
    }

    val passNs = timedPasses(o.seconds) {
      tr("pass") { Rows.foreach { case (_, row) => tr(row) { force(row) } } }
    }
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (tr.enabled) Rows.foreach { case (module, row) =>
      val (acc, n) = ctx.under(row)
      layers ++= Seq(
        s"$module.${row}_ms" -> medianMs(tr.under("pass", row)),
        s"$module.${row}_stages" -> acc.stages.toDouble / n,
        s"$module.${row}_shuffle_bytes" -> acc.shuffleWrite.toDouble / n)
    }
    val oracles = graft.SparkEntry.oracleSql
    Outcome(Rows.size * passNs.size, passNs, setupNs,
      Map("tables" -> dir, "results" -> results.toString,
        "oracles" -> Rows.map { case (_, row) => row -> oracles(row) }.toMap),
      layers.toMap)
  }
}
