package graft.wrm

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Content-hash ingest dedup gate (S3/T5; reference raw_all.py:83-150).
  *
  * Exact reference scope (SURVEY §7.4.6): the new payload's SHA-256 is
  * compared against the SINGLE most recent prior file only — a payload
  * identical to an older-but-not-latest file is re-ingested. State is
  * keep-last-1: `graft.sources.RawTextSink.write` compares each payload
  * with the most recent stored file under its root.
  */
object DedupGate {

  def sha256Hex(payload: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(payload.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  final case class Decision(isDuplicate: Boolean, hash: String)

  /** Compare a new payload against the most recent stored hash. */
  def check(payload: String, lastHash: Option[String]): Decision = {
    val h = sha256Hex(payload)
    Decision(lastHash.contains(h), h)
  }
}
