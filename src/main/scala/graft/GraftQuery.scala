package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

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

  /** Engine-independent half-up quantizer to `digits` decimals:
    * `floor(x·10ⁿ + 0.5) / 10ⁿ` in pure double arithmetic — NOT
    * `round(x, n)`, whose Spark implementation rounds the double's
    * SHORTEST decimal repr (BigDecimal.valueOf) while DuckDB rounds in
    * double arithmetic; on boundary-adjacent ratios the two legitimately
    * disagree by a whole quantum (the q132 TWAP post-mortem). Pair every
    * use with [[duckQz]] in the oracle.
    */
  def qz(c: org.apache.spark.sql.Column, digits: Int): org.apache.spark.sql.Column = {
    val p = math.pow(10.0, digits)
    org.apache.spark.sql.functions.floor(c * p + org.apache.spark.sql.functions.lit(0.5))
      .cast("double") / p
  }

  /** DuckDB mirror of [[qz]]. */
  def duckQz(expr: String, digits: Int): String = {
    val p = "1" + "0" * digits
    s"floor(($expr) * $p.0 + 0.5) / $p.0"
  }
}
