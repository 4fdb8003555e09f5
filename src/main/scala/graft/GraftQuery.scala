package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{abs, round, when}

/** One named engine capability: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) a DuckDB oracle query over the same
  * parquet tables. Oracle-less queries get the driver's weaker rows-only
  * check.
  */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    staged: Option[StagedOracle] = None)

/** Large-scale oracle variant for queries whose full oracle chain is
  * tractable only up to ~sf1 (the md5-mode MinHash family: DuckDB
  * re-computes 10^8-10^9 shingle-hash rehashes through per-element
  * lambdas — measured >20 min per query at sf10 in BOTH the cross-join
  * and in-row forms, against ~20 s for the engine's native kernels).
  *
  * `write(spark, sfDir, stageDir)` persists the query's natural
  * intermediate — the signature/shingle table the engine's own pipeline
  * computes and would persist at production scale anyway — into
  * `stageDir`; `sql` is the oracle DOWNSTREAM (banding, candidate join,
  * verification, clustering) reading that intermediate via the `{STAGE}`
  * placeholder. The intermediate itself is NOT trusted blindly: the full
  * chain, including the upstream the stage replaces, is hash-verified
  * against the all-DuckDB oracle at every smaller gated scale
  * (sf0.01/sf0.1/sf1), and the staged downstream text is shared verbatim
  * with the full oracle's, so the two variants can only diverge in the
  * upstream being staged.
  */
final case class StagedOracle(
    write: (SparkSession, String, String) => Unit,
    sql: String)

object StagedOracle {
  /** True iff `dest` holds a COMPLETE stage write derived from the CURRENT
    * fixture: Spark's `_SUCCESS` commit marker must be present (an
    * interrupted write leaves a partial table that bare `exists()` would
    * trust) and the recorded fingerprint must match `sfDir`'s (a
    * regenerated fixture reused with the same SPARK_GRAFT_STAGE_DIR would
    * otherwise read a stale table).
    */
  def isFresh(dest: java.io.File, sfDir: String): Boolean = {
    val fp = new java.io.File(dest, "_GRAFT_FINGERPRINT")
    new java.io.File(dest, "_SUCCESS").exists() && fp.exists() &&
      new String(java.nio.file.Files.readAllBytes(fp.toPath), "UTF-8") ==
        Tables.corpusFingerprint(sfDir)
  }

  /** Record the fixture fingerprint after a successful stage write. The
    * underscore-prefixed name keeps it invisible to both Spark and the
    * oracle's star-dot-parquet read_parquet globs.
    */
  def markComplete(dest: java.io.File, sfDir: String): Unit =
    java.nio.file.Files.write(
      new java.io.File(dest, "_GRAFT_FINGERPRINT").toPath,
      Tables.corpusFingerprint(sfDir).getBytes("UTF-8"))
}

object GraftQuery {
  /** Exact-sum idiom used throughout the oracles: accumulate money-like
    * doubles as DECIMAL(18,2) (exact, order-independent) and convert to
    * DOUBLE only at the end, so Spark and DuckDB produce bit-identical
    * results regardless of row order / partitioning.
    */
  val DEC = "DECIMAL(18,2)"

  /** DuckDB's `round(x, digits)` on a double: `std::round(x·10ᵈ) / 10ᵈ`
    * on the binary value (a scale-0 `round` is half away from zero in
    * both engines), and `x` itself where `x·10ᵈ` is not finite. Spark's
    * own `round(x, d)` rounds the double's shortest decimal string, so
    * 9.575 (stored just below the half) gives 9.58 there and 9.57 in
    * DuckDB. Every double quantized to `digits` decimals goes through
    * here, and its oracle uses DuckDB's plain `round(x, d)`; a DECIMAL
    * input is rounded exactly by both engines and keeps plain `round`.
    */
  def duckRound(c: Column, digits: Int): Column = {
    val p = math.pow(10.0, digits)
    when(abs(c * p) === Double.PositiveInfinity, c).otherwise(round(c * p) / p)
  }
}
