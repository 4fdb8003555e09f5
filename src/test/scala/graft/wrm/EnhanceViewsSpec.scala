package graft.wrm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EnhanceViewsSpec extends SparkSpec {
  import spark.implicits._

  test("record_type classification edge cases (P8, SURVEY §7.4.7)") {
    val cases = Seq(
      ("001", "Station 1", "station"),   // all digits, non-BIKE name
      ("123", "BIKE 999", "unknown"),    // digits but BIKE name
      ("fb001", "BIKE 64021", "bike"),   // fb + BIKE
      ("fb001", "Station X", "unknown"), // fb but non-BIKE name
      ("", "Station 1", "unknown"),      // empty id: isdigit false
      ("12a", "Station 1", "unknown"),   // mixed id
      ("001", null, "station"),          // null name: startswith na=False
      ("fb9", null, "unknown"))          // null name can't start BIKE
    val df = cases.toDF("station_id", "name", "expected")
      .withColumn("got", Enhance.recordType(col("station_id"), col("name")))
    val bad = df.filter(col("got") =!= col("expected")).collect()
    assert(bad.isEmpty, s"misclassified: ${bad.mkString(", ")}")
  }

  test("enhanced output has the 20 reference-ordered columns") {
    val enhanced = WrmQueries.enhancedAll(spark)
    assert(enhanced.columns.toSeq == Schemas.enhancedColumns)
    assert(enhanced.count() == 2 * 3 * 12) // 2 dates × 3 ticks × 12 records
  }

  test("latest-per-station keeps exactly one newest station row per id") {
    val enhanced = WrmQueries.enhancedAll(spark)
    val latest = Views.latestPerStation(enhanced)
    val n = latest.count()
    assert(n == 8) // 8 stations in the fixture
    // every station's winner comes from the newest date + newest file
    val wrong = latest.filter(
      col("date") =!= lit("2025-05-02").cast("timestamp") ||
        col("file_timestamp") =!= lit("2025-05-02 12:00:00").cast("timestamp"))
      .count()
    assert(wrong == 0)
  }

  test("the four views register and answer the reference smoke queries") {
    Views.register(spark, WrmQueries.enhancedAll(spark))
    val total = spark.sql(s"SELECT count(*) FROM ${Views.Base}").collect()(0).getLong(0)
    assert(total == 72)
    val types = spark.sql(
      s"SELECT record_type, count(*) AS n FROM ${Views.Base} GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types == Map("station" -> 48, "bike" -> 24))
    assert(spark.sql(s"SELECT count(*) FROM ${Views.StationsOnly}").collect()(0).getLong(0) == 48)
    assert(spark.sql(s"SELECT count(*) FROM ${Views.BikesOnly}").collect()(0).getLong(0) == 24)
    assert(spark.sql(s"SELECT count(*) FROM ${Views.Latest}").collect()(0).getLong(0) == 8)
  }

  test("per-file counts: one row per source file, counts sum to total (J2)") {
    val enhanced = WrmQueries.enhancedAll(spark)
    val counts = Enhance.perFileCounts(enhanced).collect()
    assert(counts.length == 6) // 2 dates × 3 files
    assert(counts.forall(_.getLong(2) == 12)) // 8 stations + 4 bikes each
    assert(counts.map(_.getLong(2)).sum == enhanced.count())
    // key really is (file, ts): distinct source keys
    assert(counts.map(_.getString(0)).distinct.length == 6)
  }

  test("validation catches constraint violations with per-check counts") {
    val bad = Seq(
      ("001", "S1", java.sql.Timestamp.valueOf("2025-05-01 10:00:00"), -5L, 0L),
      ("002", "S2", java.sql.Timestamp.valueOf("2025-05-01 10:00:00"), 3L, 2L))
      .toDF("station_id", "name", "timestamp", "bikes", "total_docks")
    val ex = intercept[Validation.SchemaValidationException] {
      Validation.validate(bad, Seq(
        Validation.Check("bikes_ge_0", col("bikes") >= 0),
        Validation.Check("total_docks_ge_1", col("total_docks") >= 1)))
    }
    assert(ex.failures.toMap == Map("bikes_ge_0" -> 1L, "total_docks_ge_1" -> 1L))
  }

  test("fix_text repairs latin1-decoded UTF-8 mojibake, preserves clean text") {
    assert(TextFix.fixText("KrzyÅ¼owa") == "Krzyżowa")
    assert(TextFix.fixText("Station Główna") == "Station Główna")
    assert(TextFix.fixText("plain ascii") == "plain ascii")
    assert(TextFix.fixText(null) == null)
  }

  test("fix_text repairs cp1252-decoded UTF-8 mojibake (smart quotes)") {
    // \u201cquoted\u201d -> UTF-8 E2 80 9C ... E2 80 9D mis-decoded as cp1252;
    // 0x9D is an unmapped position lenient decoders keep as a C1 control
    assert(TextFix.fixText("\u00e2\u20ac\u0153quoted\u00e2\u20ac\u009d") == "\u201cquoted\u201d")
    // en-dash: E2 80 93 where 0x93 is cp1252 left-double-quote
    assert(TextFix.fixText("a \u00e2\u20ac\u201c b") == "a \u2013 b")
    // latin1 mis-decode leaves a raw C1 control (0x99 from \u0119) - still repairs
    assert(TextFix.fixText("D\u00c4\u0099bie") == "D\u0119bie")
    // genuine cp1252-range text with no UTF-8 lead bytes is untouched
    assert(TextFix.fixText("caf\u00e9 \u2013 open") == "caf\u00e9 \u2013 open")
  }

  test("fix_text iterates: double-encoded mojibake repairs fully (ftfy-style)") {
    // "Krzyżowa" UTF-8-encoded then latin1-misdecoded TWICE
    assert(TextFix.fixText("KrzyÃÂ¼owa") == "Krzyżowa")
    // single layer still repairs, clean text untouched (idempotence)
    assert(TextFix.fixText(TextFix.fixText("KrzyÅ¼owa")) == "Krzyżowa")
  }

  test("fix_text unescapes HTML entities (ftfy unescape_html analog)") {
    assert(TextFix.fixText("Tom &amp; Jerry") == "Tom & Jerry")
    assert(TextFix.fixText("caf&eacute;") == "caf\u00e9")
    assert(TextFix.fixText("&lt;b&gt;bold&lt;/b&gt;") == "<b>bold</b>")
    assert(TextFix.fixText("&#233;cole") == "\u00e9cole")     // decimal numeric
    assert(TextFix.fixText("price &#x20AC;5") == "price \u20ac5") // hex numeric
    assert(TextFix.fixText("A&nbsp;B") == "A\u00a0B")
    // a single unescape level, like ftfy: &amp;amp; -> &amp;
    assert(TextFix.fixText("&amp;amp;") == "&amp;")
    // malformed / unknown forms stay verbatim
    assert(TextFix.fixText("AT&T and R&D") == "AT&T and R&D")
    assert(TextFix.fixText("&unknownent;") == "&unknownent;")
    assert(TextFix.fixText("&#xZZ;") == "&#xZZ;")
    assert(TextFix.fixText("100 &#1114112; out-of-range") == "100 &#1114112; out-of-range")
    // entity repair composes with mojibake repair (entities survive the
    // byte-level pass, then unescape)
    assert(TextFix.fixText("Krzy\u00c5\u00bcowa &amp; sp\u00c3\u00b3lka") == "Krzy\u017cowa & sp\u00f3lka")
  }
}
