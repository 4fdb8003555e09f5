package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the committed-baseline parser behind the bench's contention guard
  * (the r12 process fix): a contended round must be caught against the
  * last committed `BENCH_r*.json`, so the parser that reads it must keep
  * working against the real driver artifact format (slim bench line
  * JSON-escaped inside the "tail" field).
  */
class BenchBaselineSpec extends AnyFunSuite {

  test("parses the newest same-SF committed artifact (real repo files)") {
    val (name, qs) = Bench.committedBaseline("/root/repo", "/root/testdata/sf0.1")
    assert(name.matches("BENCH_r\\d+\\.json"), s"unexpected baseline: $name")
    assert(qs.nonEmpty && qs.size <= 30, s"expected the slimmed slowest-30 set, got ${qs.size}")
    assert(qs.values.forall(_ >= 0), s"negative baseline times in $name")
    // the newest artifact wins: every committed artifact with a HIGHER
    // round number than the pick must itself be unparseable-or-other-SF
    // for this SF (checked by parsing each one in isolation) — otherwise
    // the picker skipped a newer valid baseline
    val picked = name.stripPrefix("BENCH_r").stripSuffix(".json").toInt
    val newer = Option(new java.io.File("/root/repo").listFiles()).get
      .filter(_.getName.matches("BENCH_r\\d+\\.json"))
      .filter(_.getName.stripPrefix("BENCH_r").stripSuffix(".json").toInt > picked)
    newer.foreach { f =>
      val tmp = java.nio.file.Files.createTempDirectory("bench_newest")
      try {
        java.nio.file.Files.copy(f.toPath, tmp.resolve(f.getName))
        assert(Bench.committedBaseline(tmp.toString, "/root/testdata/sf0.1")._2.isEmpty,
          s"${f.getName} parses for sf0.1 but the picker chose older $name")
      } finally {
        java.nio.file.Files.deleteIfExists(tmp.resolve(f.getName))
        java.nio.file.Files.deleteIfExists(tmp)
      }
    }
  }

  test("sf10 runs read the newest BENCH_sf10_r*.json full-format artifact") {
    // the sf10 corpus has no affordable DuckDB pair; its only regression
    // guard is round-over-round growth vs the prior sf10 artifact
    // (VERDICT r15 item 8) — pin against the real committed file
    val (name, qs) = Bench.committedBaseline("/root/repo", "/root/repo/tmp/sf10")
    assert(name.matches("BENCH_sf10_r\\d+\\.json"), s"unexpected sf10 baseline: $name")
    assert(qs.size > 150, s"expected the full per-query map, got ${qs.size}")
    assert(qs.values.forall(_ >= 0))
    // a synthetic full-format artifact parses, and "sf" must END in sf10
    val tmp = java.nio.file.Files.createTempDirectory("bench_sf10_spec")
    val art = """{"metric":"total","value":9.9,"unit":"sec","queries":{"qa":1.5,"qb":2.5},"regressions":{},"sf":"tmp/sf10"}"""
    java.nio.file.Files.writeString(tmp.resolve("BENCH_sf10_r09.json"), art)
    java.nio.file.Files.writeString(tmp.resolve("BENCH_sf10_r08.json"),
      art.replace("tmp/sf10", "tmp/sf1")) // other corpus: must be skipped
    try {
      val got = Bench.committedBaseline(tmp.toString, "/any/where/sf10")
      assert(got == ("BENCH_sf10_r09.json", Map("qa" -> 1.5, "qb" -> 2.5)))
      // non-sf10 sfDir never reads the sf10 family
      assert(Bench.committedBaseline(tmp.toString, "/data/sf0.1")._2.isEmpty)
    } finally {
      java.nio.file.Files.deleteIfExists(tmp.resolve("BENCH_sf10_r09.json"))
      java.nio.file.Files.deleteIfExists(tmp.resolve("BENCH_sf10_r08.json"))
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  test("other-SF and missing baselines return empty, never throw") {
    assert(Bench.committedBaseline("/root/repo", "/root/testdata/sf9.9")._2.isEmpty)
    assert(Bench.committedBaseline("/nonexistent/dir", "/root/testdata/sf0.1")._2.isEmpty)
  }

  test("extracts the escaped embedded queries map, not top-level JSON fields") {
    val tmp = java.nio.file.Files.createTempDirectory("bench_baseline_spec")
    // a faithful miniature of the driver artifact: rc/sf plain, bench line
    // escaped inside "tail" with regressions BEFORE queries (the parser
    // must anchor on \"queries\":{, not the first brace)
    val art = """{"n": 7, "rc": 0, "sf": 0.1, "tail": "noise [info] {\"metric\":\"total\",\"value\":9.9,\"unit\":\"sec\",\"n_queries\":2,\"queries\":{\"q1_agg\":1.25,\"q2_scan\":0.75},\"regressions\":{},\"sf\":\"/x/sf0.1\"}"}"""
    java.nio.file.Files.writeString(tmp.resolve("BENCH_r03.json"), art)
    // an older round at the same SF must lose to r03
    java.nio.file.Files.writeString(tmp.resolve("BENCH_r02.json"),
      art.replace("q1_agg", "stale_q"))
    try {
      val (name, qs) = Bench.committedBaseline(tmp.toString, "/data/sf0.1")
      assert(name == "BENCH_r03.json")
      assert(qs == Map("q1_agg" -> 1.25, "q2_scan" -> 0.75))
      // SF mismatch on every file -> empty
      assert(Bench.committedBaseline(tmp.toString, "/data/sf0.001")._2.isEmpty)
    } finally {
      java.nio.file.Files.deleteIfExists(tmp.resolve("BENCH_r03.json"))
      java.nio.file.Files.deleteIfExists(tmp.resolve("BENCH_r02.json"))
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  /** Runs `f` in a fresh temp dir holding `files` (name -> content). */
  private def withFiles(files: (String, String)*)(f: java.nio.file.Path => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("bench_spec")
    files.foreach { case (n, txt) => java.nio.file.Files.writeString(tmp.resolve(n), txt) }
    try f(tmp)
    finally {
      files.foreach { case (n, _) => java.nio.file.Files.deleteIfExists(tmp.resolve(n)) }
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  test("the previous bench_out.json is read at the same sf and ignored at another") {
    val line = """{"metric":"total","value":3.0,"unit":"sec","queries":{"qa":1.250,"qb":1.750},"regressions":{"qa":[0.500,1.250]},"stages":{"qa":3},"sf":"/data/sf0.1"}"""
    withFiles("bench_out.json" -> (line + "\n")) { tmp =>
      val out = tmp.resolve("bench_out.json").toString
      assert(Bench.previousRun(out, "/data/sf0.1") == Map("qa" -> 1.25, "qb" -> 1.75))
      assert(Bench.previousRun(out, "/data/sf0.01").isEmpty)
      assert(Bench.previousRun(out, "/other/sf0.1").isEmpty)
      assert(Bench.previousRun(tmp.resolve("missing.json").toString, "/data/sf0.1").isEmpty)
    }
  }

  test("a newer same-SF artifact that is not valid JSON is skipped; the older valid one wins") {
    val wrapped = """{"n": 7, "rc": 0, "sf": 0.1, "tail": "noise\n{\"metric\":\"total\",\"value\":9.9,\"unit\":\"sec\",\"queries\":{\"q1_agg\":1.25},\"regressions\":{},\"sf\":\"/x/sf0.1\"}\n"}"""
    val full = """{"sf":"tmp/sf10","metric":"total","value":9.9,"unit":"sec","queries":{"qa":1.5},"regressions":{}}"""
    // cut after the queries map: sf and the map are intact, the JSON is not
    def cut(art: String): String = art.take(art.indexOf("regressions"))
    withFiles("BENCH_r03.json" -> wrapped, "BENCH_r04.json" -> cut(wrapped),
        "BENCH_sf10_r09.json" -> full, "BENCH_sf10_r10.json" -> cut(full)) { tmp =>
      assert(Bench.committedBaseline(tmp.toString, "/data/sf0.1") ==
        ("BENCH_r03.json", Map("q1_agg" -> 1.25)))
      assert(Bench.committedBaseline(tmp.toString, "/data/sf10") ==
        ("BENCH_sf10_r09.json", Map("qa" -> 1.5)))
    }
  }
}
