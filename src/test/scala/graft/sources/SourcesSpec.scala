package graft.sources

import java.net.InetSocketAddress
import java.nio.file.Files
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.SparkSpec

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("HTTP source: fetch, status check, retry with backoff (S1)") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/ok", (ex: HttpExchange) => {
      val body = "#id,ts,name\n001,1|2|3,Station 1".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length); ex.getResponseBody.write(body); ex.close()
    })
    server.createContext("/flaky", (ex: HttpExchange) => {
      if (hits.incrementAndGet() < 3) { ex.sendResponseHeaders(503, -1); ex.close() }
      else {
        val body = "recovered".getBytes("UTF-8")
        ex.sendResponseHeaders(200, body.length); ex.getResponseBody.write(body); ex.close()
      }
    })
    server.createContext("/fail", (ex: HttpExchange) => {
      ex.sendResponseHeaders(500, -1); ex.close()
    })
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      assert(HttpSource.fetchOnce(s"$base/ok").startsWith("#id"))
      val cfg = HttpSource.RetryConfig(attempts = 3, baseDelayMs = 10, capDelayMs = 50)
      assert(HttpSource.fetchWithRetry(s"$base/flaky", cfg) == "recovered")
      assert(hits.get() == 3) // two 503s then success
      intercept[HttpSource.HttpFetchException] {
        HttpSource.fetchWithRetry(s"$base/fail", cfg)
      }
    } finally server.stop(0)
  }

  test("circuit breaker: full state machine with a fake clock (§2.11)") {
    var now = 0L
    val cb = new CircuitBreaker("api", failureThreshold = 3,
      successThreshold = 2, recoveryTimeoutMs = 1000, halfOpenMaxCalls = 1,
      clock = () => now)
    def boom(): String = cb.call { throw new RuntimeException("down") }
    def ok(): String = cb.call { "up" }

    assert(cb.currentState == "closed")
    // two failures: still closed; a success resets the count
    intercept[RuntimeException](boom()); intercept[RuntimeException](boom())
    assert(cb.currentState == "closed")
    assert(ok() == "up")
    // threshold consecutive failures → open
    (1 to 3).foreach(_ => intercept[RuntimeException](boom()))
    assert(cb.currentState == "open")
    // open rejects WITHOUT invoking the call
    var invoked = false
    intercept[CircuitBreaker.CircuitOpenException] {
      cb.call { invoked = true; "x" }
    }
    assert(!invoked)
    // recovery timeout elapses → half-open; probe failure re-opens
    now += 1000
    assert(cb.currentState == "half_open")
    intercept[RuntimeException](boom())
    assert(cb.currentState == "open")
    // recover again; successThreshold probe successes close the circuit
    now += 1000
    assert(ok() == "up")
    assert(cb.currentState == "half_open")
    assert(ok() == "up")
    assert(cb.currentState == "closed")
  }

  test("open circuit makes fetchWithRetry fail fast (no backoff attempts)") {
    var now = 0L
    val cb = new CircuitBreaker("api", failureThreshold = 1,
      recoveryTimeoutMs = 60000, clock = () => now)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    def failingFetch(url: String): String = {
      calls.incrementAndGet(); throw new RuntimeException("503")
    }
    val cfg = HttpSource.RetryConfig(attempts = 3, baseDelayMs = 1, capDelayMs = 2)
    // first call trips the breaker on attempt 1, then open-rejects — so
    // the fetch itself runs exactly once, not `attempts` times
    intercept[CircuitBreaker.CircuitOpenException] {
      HttpSource.fetchWithRetry("http://x", cfg, failingFetch, Some(cb))
    }
    assert(calls.get() == 1)
    // and a later call while still open never touches the network
    intercept[CircuitBreaker.CircuitOpenException] {
      HttpSource.fetchWithRetry("http://x", cfg, failingFetch, Some(cb))
    }
    assert(calls.get() == 1)
  }

  test("raw text sink: dt= layout, mojibake fix, dedup-vs-most-recent (S2-S4)") {
    val root = Files.createTempDirectory("rawsink")
    val now = java.time.LocalDateTime.of(2025, 5, 1, 10, 0, 0)
    // tmpfs writes land in the same millisecond; give each stored file a
    // distinct mtime so the "most recent" scope is unambiguous (the sink
    // also tie-breaks on filename — this pins both axes)
    def stamp(r: RawTextSink.WriteResult, minute: Int): RawTextSink.WriteResult = {
      if (!r.skippedDuplicate)
        Files.setLastModifiedTime(java.nio.file.Paths.get(r.key),
          java.nio.file.attribute.FileTime.fromMillis(1746093600000L + minute * 60000L))
      r
    }
    val r1 = stamp(RawTextSink.write(root, "payload A", now), 0)
    assert(!r1.skippedDuplicate)
    assert(r1.key.contains("dt=2025-05-01/wrm_stations_2025-05-01_10-00-00.txt"))
    // identical payload → skipped, returns existing key
    val r2 = stamp(RawTextSink.write(root, "payload A", now.plusMinutes(1)), 1)
    assert(r2.skippedDuplicate && r2.key == r1.key)
    // different payload → stored
    val r3 = stamp(RawTextSink.write(root, "payload B", now.plusMinutes(2)), 2)
    assert(!r3.skippedDuplicate)
    // original payload again → NOT a duplicate (only newest is compared)
    val r4 = stamp(RawTextSink.write(root, "payload A", now.plusMinutes(3)), 3)
    assert(!r4.skippedDuplicate)
    // mojibake fixed before storage
    val r5 = RawTextSink.write(root, "KrzyÅ¼owa", now.plusMinutes(4))
    val stored = new String(Files.readAllBytes(java.nio.file.Paths.get(r5.key)), "UTF-8")
    assert(stored == "Krzyżowa")
  }

  test("mostRecent breaks mtime ties by filename (logical timestamp)") {
    val root = Files.createTempDirectory("rawsink-tie")
    val dir = root.resolve("dt=2025-05-01"); Files.createDirectories(dir)
    val older = dir.resolve("wrm_stations_2025-05-01_10-00-00.txt")
    val newer = dir.resolve("wrm_stations_2025-05-01_10-05-00.txt")
    // write in REVERSE logical order so directory-walk order favors the
    // wrong file if the tiebreak is missing
    Files.write(newer, "B".getBytes("UTF-8"))
    Files.write(older, "A".getBytes("UTF-8"))
    val tie = java.nio.file.attribute.FileTime.fromMillis(1746093600000L)
    Files.setLastModifiedTime(older, tie)
    Files.setLastModifiedTime(newer, tie)
    assert(RawTextSink.mostRecent(root).map(_.getFileName.toString)
      .contains("wrm_stations_2025-05-01_10-05-00.txt"))
  }

  test("SQL functions work via SparkSessionExtensions-style registration") {
    Seq((1L, "a b c d")).toDF("doc_id", "text").createOrReplaceTempView("ext_docs")
    val row = spark.sql("""
      SELECT graft_simhash(split(text, ' ')) AS sh,
             size(graft_shingles(split(text, ' '), 2)) AS n2
      FROM ext_docs""").collect()(0)
    assert(row.getLong(0) != 0L)
    assert(row.getInt(1) == 3)
  }
}
