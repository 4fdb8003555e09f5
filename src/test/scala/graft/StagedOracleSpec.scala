package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Pins the staged-table freshness contract (r14 ADVICE, medium): a stage
  * dir is trusted ONLY with Spark's _SUCCESS commit marker AND a matching
  * fixture fingerprint — a bare exists() would silently read a partial
  * (interrupted write) or stale (regenerated fixture) signature table.
  */
class StagedOracleSpec extends AnyFunSuite {

  private def tmpDir(prefix: String): File = {
    val d = Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d
  }

  private def writeFile(dir: File, name: String, content: String): File = {
    val f = new File(dir, name)
    Files.write(f.toPath, content.getBytes("UTF-8"))
    f
  }

  test("partial stage (no _SUCCESS) is never fresh") {
    val fixture = tmpDir("fixture")
    writeFile(fixture, "documents.parquet", "data")
    val dest = tmpDir("stage")
    writeFile(dest, "part-00000.parquet", "partial")
    // even with a matching fingerprint recorded, a missing commit marker
    // means the part files cannot be trusted
    StagedOracle.markComplete(dest, fixture.getAbsolutePath)
    assert(!StagedOracle.isFresh(dest, fixture.getAbsolutePath))
  }

  test("complete stage with matching fingerprint is fresh") {
    val fixture = tmpDir("fixture")
    writeFile(fixture, "documents.parquet", "data")
    val dest = tmpDir("stage")
    writeFile(dest, "part-00000.parquet", "rows")
    writeFile(dest, "_SUCCESS", "")
    StagedOracle.markComplete(dest, fixture.getAbsolutePath)
    assert(StagedOracle.isFresh(dest, fixture.getAbsolutePath))
  }

  test("regenerated fixture (changed mtime/size) invalidates the stage") {
    val fixture = tmpDir("fixture")
    val doc = writeFile(fixture, "documents.parquet", "data")
    val dest = tmpDir("stage")
    writeFile(dest, "part-00000.parquet", "rows")
    writeFile(dest, "_SUCCESS", "")
    StagedOracle.markComplete(dest, fixture.getAbsolutePath)
    assert(StagedOracle.isFresh(dest, fixture.getAbsolutePath))
    // regenerate: same name, different size AND a bumped mtime
    Files.write(doc.toPath, "regenerated data".getBytes("UTF-8"))
    doc.setLastModified(doc.lastModified() + 5000)
    assert(!StagedOracle.isFresh(dest, fixture.getAbsolutePath))
  }

  test("missing fingerprint file (pre-contract stage dir) is stale") {
    val fixture = tmpDir("fixture")
    writeFile(fixture, "documents.parquet", "data")
    val dest = tmpDir("stage")
    writeFile(dest, "part-00000.parquet", "rows")
    writeFile(dest, "_SUCCESS", "")
    assert(!StagedOracle.isFresh(dest, fixture.getAbsolutePath))
  }

  test("fingerprint covers nested fixture layouts (directory tables)") {
    val fixture = tmpDir("fixture")
    val sub = new File(fixture, "documents.parquet")
    sub.mkdirs()
    writeFile(sub, "part-00000.parquet", "a")
    val fp1 = Tables.corpusFingerprint(fixture.getAbsolutePath)
    writeFile(sub, "part-00001.parquet", "b")
    val fp2 = Tables.corpusFingerprint(fixture.getAbsolutePath)
    assert(fp1 != fp2)
  }
}
