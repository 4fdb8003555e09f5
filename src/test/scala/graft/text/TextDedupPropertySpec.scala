package graft.text

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Differential property tests for the substring-level dedup pair
  * (q61 span finder, q70 span removal): on arbitrary corpora the
  * distributed pipeline must equal an independent plain-Scala flat
  * reference — exercised on shapes the fixture corpus never contains
  * (tiny vocab → dense cross-doc overlap, adjacent and bridged spans,
  * whole-doc spans, docs shorter than the window).
  */
class TextDedupPropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  // 4-symbol vocabulary makes shared minTokens-grams common
  private val docGen: Gen[(Long, String)] = for {
    id <- Gen.chooseNum(0L, 100000L)
    n <- Gen.chooseNum(0, 30)
    toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
  } yield (id, toks.mkString(" "))

  private def corpus(seed: Long, nDocs: Int): Seq[(Long, String)] =
    sample(Gen.listOfN(nDocs, docGen), seed)
      .groupBy(_._1).map(_._2.head).toSeq.sortBy(_._1)

  private def toks(text: String): Seq[String] = text.trim.split("\\s+").toSeq

  /** Flat reference: gram table → dup grams (≥ minDocs docs) → marked
    * positions → span merge (gap > minTokens splits) → removal.
    */
  private def refSpansAndClean(docs: Seq[(Long, String)], minTokens: Int,
      minDocs: Int): (Seq[(Long, Long, Long, Long)], Seq[(Long, String, Long)]) = {
    val grams = docs.flatMap { case (id, text) =>
      val t = toks(text)
      if (t.size < minTokens) Nil
      else (0 to t.size - minTokens).map(p =>
        (id, p, t.slice(p, p + minTokens).mkString(" ")))
    }
    val dup = grams.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= minDocs).keySet
    val spans = grams.filter(g => dup(g._3)).groupBy(_._1).toSeq.flatMap {
      case (id, marks) =>
        val ps = marks.map(_._2).sorted
        val groups = ps.tail.foldLeft(List(List(ps.head))) { (acc, p) =>
          if (p - acc.head.head <= minTokens) (p :: acc.head) :: acc.tail
          else List(p) :: acc
        }
        groups.reverse.map { g =>
          val (lo, hi) = (g.min.toLong, g.max.toLong + minTokens)
          (id, lo, hi, hi - lo)
        }
    }.sortBy(s => (s._1, s._2))
    val spansByDoc = spans.groupBy(_._1)
    val clean = docs.map { case (id, text) =>
      val t = toks(text)
      val cut = spansByDoc.getOrElse(id, Nil)
      val kept = t.zipWithIndex.collect {
        case (tok, i) if !cut.exists(s => i >= s._2 && i < s._3) => tok
      }
      (id, kept.mkString(" "), (t.size - kept.size).toLong)
    }.sortBy(_._1)
    (spans, clean)
  }

  test("span finder and removal equal the flat reference on random corpora") {
    for (seed <- 1L to 3L; minTokens <- Seq(3, 5)) {
      val docs = corpus(seed * 7, 40).filter(_._2.nonEmpty)
      val (refSpans, refClean) = refSpansAndClean(docs, minTokens, minDocs = 2)
      val df = docs.toDF("doc_id", "text")
      val gotSpans = TextDedup.substringDupSpans(df, minTokens)
        .as[(Long, Long, Long, Long)].collect().toSeq
      // removeDupSpans cuts the gap slices between consecutive spans, which
      // is correct only if each document's spans come in start order and
      // never touch or overlap: asserted on its own, not only through the
      // reference (which is disjoint by construction)
      gotSpans.groupBy(_._1).foreach { case (doc, ss) =>
        val ctx = s"seed=$seed minTokens=$minTokens doc_id=$doc spans=$ss"
        assert(ss.forall(s => s._2 < s._3), s"empty or reversed span: $ctx")
        assert(ss.zip(ss.tail).forall { case (a, b) => b._2 >= a._3 },
          s"unsorted or overlapping spans: $ctx")
      }
      assert(gotSpans == refSpans, s"spans seed=$seed minTokens=$minTokens")
      val gotClean = TextDedup.removeDupSpans(df, minTokens)
        .as[(Long, String, Long)].collect().toSeq
      assert(gotClean == refClean, s"clean seed=$seed minTokens=$minTokens")
    }
  }

  test("removal + finder compose to a fixpoint-free corpus at minDocs=2") {
    // after cutting every cross-doc duplicated span, no span that was
    // ALREADY duplicated can survive verbatim in 2+ docs — re-running the
    // finder on the cleaned corpus may find NEW spans (cut edges create
    // fresh adjacencies) but never the original ones
    val docs = corpus(99L, 30).filter(_._2.nonEmpty)
    val df = docs.toDF("doc_id", "text")
    val cleaned = TextDedup.removeDupSpans(df, minTokens = 4)
      .select($"doc_id", $"clean_text".as("text"))
    val before = TextDedup.substringDupSpans(df, 4)
      .as[(Long, Long, Long, Long)].collect()
    val after = TextDedup.substringDupSpans(cleaned, 4)
      .as[(Long, Long, Long, Long)].collect()
    // total duplicated mass strictly shrinks when any span existed
    if (before.nonEmpty)
      assert(after.map(_._4).sum < before.map(_._4).sum)
  }
}
