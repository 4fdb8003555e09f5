package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CorpusSafetySpec extends SparkSpec {
  import spark.implicits._

  test("contamination: benchmark docs score 1.0, disjoint docs 0.0, partial overlap counted") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon"),          // the benchmark doc itself
      (1L, "zeta eta theta iota kappa"),               // disjoint
      (2L, "noise alpha beta gamma delta more noise"), // shares 2 trigrams
      (3L, "x")                                        // too short for any trigram
    ).toDF("doc_id", "text")
    val bench = corpus.filter(col("doc_id") === 0).select(col("text"))
    val got = CorpusSafety.contaminationCheck(corpus, bench, n = 3, minHits = 2)
      .orderBy(col("doc_id"))
      .as[(Long, Int, Long, Double, Boolean)].collect().toSeq
    assert(got(0) == ((0L, 3, 3L, 1.0, true)))
    assert(got(1) == ((1L, 3, 0L, 0.0, false)))
    // doc 2 trigrams: 5 total, shares "alpha beta gamma" + "beta gamma delta"
    assert(got(2)._3 == 2L && got(2)._5)
    assert(got(3) == ((3L, 0, 0L, 0.0, false)))
  }

  test("contamination join stays broadcast (corpus never shuffled by gram)") {
    val corpus = Seq((0L, "a b c d"), (1L, "c d e f")).toDF("doc_id", "text")
    val plan = CorpusSafety.contaminationCheck(corpus,
        corpus.select(col("text")), n = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("redactPii scrubs emails and phones and counts matches") {
    val df = Seq(
      (1L, "reach me at jane.doe+spam@sub.example.org or +1-555-0199 thanks"),
      (2L, "no pii here"),
      (3L, "two mails a@b.co c@d.org one phone +1-555-0000")
    ).toDF("id", "t")
    val got = CorpusSafety.redactPii(df, "t").orderBy(col("id"))
      .as[(Long, Int, Int, String)].collect().toSeq
    assert(got(0)._2 == 1 && got(0)._3 == 1)
    assert(got(0)._4 == "reach me at <EMAIL> or <PHONE> thanks")
    assert(got(1) == ((2L, 0, 0, "no pii here")))
    assert(got(2)._2 == 2 && got(2)._3 == 1)
    assert(got(2)._4 == "two mails <EMAIL> <EMAIL> one phone <PHONE>")
  }

  test("source overlap: containment is asymmetric and self pairs excluded") {
    val dir = "/root/testdata/sf0.001"
    val cells = CorpusSafety.qSourceOverlap.run(spark, dir)
      .as[(String, String, Long, Long, Double)].collect().toSeq
    assert(cells.nonEmpty)
    cells.foreach { case (a, b, common, na, c) =>
      assert(a != b)
      assert(common <= na && c == common.toDouble / na, s"$a->$b")
    }
    // the matrix is direction-sensitive: n_common(a,b) == n_common(b,a)
    // but containment divides by the SOURCE side's gram count
    val byPair = cells.map(r => (r._1, r._2) -> r._3).toMap
    byPair.foreach { case ((a, b), n) => assert(byPair((b, a)) == n) }
  }
}
