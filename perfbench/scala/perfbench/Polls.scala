package perfbench

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

/** The seeded stream of WRM API polls both workloads use.
  *
  * Every value is a closed-form function of (seed, poll index, row index)
  * so that `checks.py` can recompute the expected table without running
  * any of the program's code. Poll `k` is due at `time(k)`, 30 s after
  * poll `k - 1`; the stream is centred on midnight so it covers two dates.
  *
  * The make-up the checks rely on:
  *  - a duplicate poll repeats the previous poll's snapshot verbatim
  *    (the API did not refresh), so the dedup gate must skip it;
  *  - a mojibake poll is the UTF-8 payload decoded as Latin-1 in transit,
  *    so the landed file must hold the repaired text;
  *  - a quarter of snapshots carry one row whose composite column has two
  *    parts, not three: that row alone is dropped;
  *  - exactly one snapshot (`corrupt`) has a non-numeric `bikes` value:
  *    its whole file is dropped.
  */
final class Polls(val seed: Long, val stations: Int, val bikes: Int,
                  val polls: Int, val day0: LocalDate) {
  require(seed >= 0, "seed must be non-negative")

  val start: LocalDateTime =
    day0.plusDays(1).atStartOfDay().minusSeconds(30L * (polls / 2))
  def time(k: Int): LocalDateTime = start.plusSeconds(30L * k)
  def epoch(k: Int): Long = time(k).toEpochSecond(ZoneOffset.UTC)
  def date(k: Int): String = time(k).toLocalDate.toString
  val dates: Seq[String] = (0 until polls).map(date).distinct

  val rows: Int = stations + bikes
  val corrupt: Int = polls / 3 + (seed % 10).toInt

  def duplicate(k: Int): Boolean =
    k > 0 && k != corrupt && k != corrupt + 1 && Polls.draw(seed, k, 1, 10) == 0
  def mojibake(k: Int): Boolean = Polls.draw(seed, k, 2, 20) == 0

  /** Index of the row with a two-part composite column in snapshot `c`, or -1. */
  def malformedRow(c: Int): Int =
    if (Polls.draw(seed, c, 3, 4) == 0) Polls.draw(seed, c, 4, rows).toInt else -1

  /** The snapshot poll `k` returns: its own, or the last fresh one's. */
  def snapshot(k: Int): Int = { var c = k; while (duplicate(c)) c -= 1; c }

  /** Snapshot `c` as the API's CSV text. */
  def text(c: Int): String = {
    val sb = new java.lang.StringBuilder(rows * 96)
    sb.append(graft.wrm.WrmFixture.Header)
    val e = epoch(c)
    val bad = malformedRow(c)
    var r = 0
    while (r < rows) {
      sb.append('\n')
      val composite =
        if (r == bad) s"$e.${Polls.frac(r, stations)}|3600"
        else s"$e.${Polls.frac(r, stations)}|3600|-3600"
      if (r < stations) {
        val i = r
        val nBikes = Polls.stationBikes(seed, i, c)
        val docks = 17 + i % 5
        sb.append(f"${i + 1}%04d").append(',').append(composite).append(',')
          .append(Polls.stationName(i)).append(',')
          .append(Polls.e5(Polls.stationLatE5(i))).append(',')
          .append(Polls.e5(Polls.stationLonE5(i))).append(',')
          .append(if (c == corrupt && i == 0) "n/a" else nBikes.toString).append(',')
          .append(docks - nBikes).append(",true,false,false,").append(docks).append(',')
          .append(if (i % 2 == 0) "true" else "false").append(',')
          .append((i + c) % 3)
      } else {
        val j = r - stations
        sb.append(f"fb${j + 1}%04d").append(',').append(composite).append(',')
          .append("BIKE ").append(60001 + j).append(',')
          .append(Polls.e5(Polls.bikeLatE5(j, c))).append(',')
          .append(Polls.e5(Polls.bikeLonE5(j, c)))
          .append(",1,0,true,false,false,1,true,0")
      }
      r += 1
    }
    sb.toString
  }

  /** What poll `k` delivers, transport damage included. */
  def payload(k: Int): String = {
    val t = text(snapshot(k))
    if (mojibake(k)) new String(t.getBytes(UTF_8), ISO_8859_1) else t
  }
}

object Polls {
  /** Station-name stems: Polish diacritics outside Latin-1 (ł, ś, ż, ę)
    * make every payload multibyte, which the mojibake repair relies on. */
  val Names: Vector[String] = Vector(
    "Plac Grunwaldzki", "Dworzec Główny", "Rynek", "Świdnicka", "Łokietka",
    "Żeromskiego", "Plac Bema", "Oławska", "Sępolno", "Krzyżowa",
    "Nowy Dwór", "Ślężna", "Różanka", "Gądów", "Kuźniki", "Bieńkowice")

  def stationName(i: Int): String = s"${Names(i % Names.size)} ${i + 1}"
  def stationBikes(seed: Long, i: Int, c: Int): Int =
    ((i.toLong * 31 + c.toLong * 7 + seed % 17) % 17).toInt
  def stationLatE5(i: Int): Int = 5105000 + (i % 23) * 410 + (i * 7 % 13) * 37
  def stationLonE5(i: Int): Int = 1695000 + (i % 29) * 570 + (i * 11 % 17) * 41
  def bikeLatE5(j: Int, c: Int): Int = 5108000 + ((j * 13 + c) % 50) * 90
  def bikeLonE5(j: Int, c: Int): Int = 1700000 + ((j * 29 + c * 3) % 50) * 110
  def frac(r: Int, stations: Int): Int =
    if (r < stations) 100 + r % 400 else 500 + (r - stations) % 400

  /** Fixed-point degrees ×10^5 as text: exact, so no float formatting. */
  def e5(v: Int): String = f"${v / 100000}.${v % 100000}%05d"

  /** splitmix64 of (seed, k, salt), reduced to [0, m). */
  def draw(seed: Long, k: Long, salt: Long, m: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + k * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    java.lang.Long.remainderUnsigned(z, m)
  }
}
