package graft.wrm

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import graft.SparkSpec
import graft.sources.RawTextSink

/** Multibyte/mojibake coverage of the WRM surface at scale (VERDICT r16
  * item 5: the wrm corpus was ASCII-dominant while the reference's ftfy
  * tests are mojibake-centric, test_raw.py:100-123).
  *
  * Two distinct boundaries, matching the reference's placement:
  *  - the BATCH parse path must carry multibyte station names — including
  *    a literal mojibake string — byte-VERBATIM into the enhanced table
  *    (encoding repair never runs inside the parse);
  *  - the S2 ingest-save path (RawTextSink → TextFix) must repair
  *    mojibake payloads BEFORE they are stored, at a ≥100-file count.
  */
class WrmMultibyteSpec extends SparkSpec {

  private def tmpDir(): Path = Files.createTempDirectory("wrmmb")

  test("scale-shaped fixture carries multibyte names verbatim through parse+enhance") {
    // scale-100 row shape: rowFactor 10 → 80 stations/snapshot, of which
    // 72 carry the multibyte templates; 3 ticks keep the test fast while
    // every template appears many times
    val root = WrmFixture.writeRawFiles(tmpDir(), Seq("2025-05-01"),
      ticksPerDate = 3, n = 80, nBikes = 4)
    val enhanced = DateJob.enhanced(spark, root.toString, "2025-05-01")
    val names = enhanced.filter(org.apache.spark.sql.functions.col("record_type") === "station")
      .select("name").distinct()
      .collect().map(_.getString(0)).toSet
    // every multibyte template survives byte-exactly (suffix " <i>")
    WrmFixture.MultibyteNames.foreach { t =>
      assert(names.exists(n => n.startsWith(t + " ")),
        s"template '$t' missing or altered in enhanced names")
    }
    // the mojibake-as-data name is preserved VERBATIM — the batch path
    // must not repair (TextFix would turn Ã© into é); repair belongs to
    // the S2 save boundary only
    assert(names.exists(_.startsWith("Station Ã©lÃ¨ve å¤§ ")),
      "mojibake-as-data name was altered by the batch parse path")
    // sanity: parse dropped nothing — 80 stations per snapshot
    val perFile = enhanced
      .filter(org.apache.spark.sql.functions.col("record_type") === "station")
      .groupBy("s3_source_key").count()
      .collect().map(_.getLong(1)).toSet
    assert(perFile == Set(80L), s"station rows per file drifted: $perFile")
  }

  test("S2 ingest-save repairs mojibake payloads at a 100+ file count") {
    val root = tmpDir()
    // 120 distinct snapshots whose names arrive MIS-DECODED (the classic
    // UTF-8-read-as-cp1252/latin-1 feed): TextFix must store the repaired
    // form for every file
    val base = LocalDateTime.of(2025, 5, 1, 0, 0, 0)
    val results = (0 until 120).map { t =>
      val clean = WrmFixture.payload(t, n = 4, nBikes = 0)
      val mojibake = new String(
        clean.replace("Station 1", "Świdnicka żółta")
          .getBytes(StandardCharsets.UTF_8),
        StandardCharsets.ISO_8859_1)
      RawTextSink.write(root, mojibake, base.plusMinutes(t.toLong))
    }
    assert(results.forall(!_.skippedDuplicate), "distinct payloads deduped")
    val walk = Files.walk(root)
    var n = 0
    try walk.iterator().forEachRemaining { p =>
      if (p.toString.endsWith(".txt")) {
        n += 1
        val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        assert(txt.contains("Świdnicka żółta"), s"$p not repaired")
        assert(!txt.contains("Ã"), s"$p still contains mojibake")
      }
    } finally walk.close()
    assert(n == 120, s"expected 120 stored files, got $n")
  }
}
