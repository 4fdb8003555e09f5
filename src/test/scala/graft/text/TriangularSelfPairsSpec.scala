package graft.text

import graft.SparkSpec
import graft.plans.SimJoin
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Contract of [[SimJoin.blockPairs]]: for any block layout and any cap,
  * the emitted pairs equal the nested-loop reference "every unordered pair
  * of distinct ids within a block of ≤ maxBlock members", with no pair
  * missing and none duplicated, each row oriented id_a < id_b with every
  * payload column on its own id's side. This is the invariant the q26/q52/
  * q71 LSH pairs, the q30/q126 dup pairs, the q129 prefix join and the q80
  * dominance scan rely on for oracle parity: the cap drops whole blocks,
  * and the bucket cover (⌈n/250⌉ buckets per block) may only change HOW
  * pairs are spread over tasks, never WHICH pairs exist.
  */
class TriangularSelfPairsSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(41L + i)))

  private def referencePairs(rows: Seq[(String, Long)],
                             maxBlock: Int): Set[(String, Long, Long)] =
    rows.groupBy(_._1).toSeq.filter(_._2.size <= maxBlock).flatMap {
      case (blk, members) =>
        val ids = members.map(_._2).distinct
        for {
          i <- ids.indices; j <- (i + 1) until ids.size
        } yield (blk, math.min(ids(i), ids(j)), math.max(ids(i), ids(j)))
    }.toSet

  /** `blockPairs` over (blk, id) rows carrying two payloads derived from
    * the id: asserts every row's orientation and payload sides, and
    * returns its (blk, id_a, id_b).
    */
  private def coveredPairs(rows: Seq[(String, Long)],
                           maxBlock: Int): Seq[(String, Long, Long)] = {
    val df = rows.toDF("blk", "id")
      .withColumn("payload", col("id") * 10)
      .withColumn("tag", concat(lit("t"), col("id")))
    SimJoin.blockPairs(df, Seq("blk"), "id", Seq("payload", "tag"), maxBlock)
      .collect().map { r =>
        val (a, b) = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
        assert(a < b, s"pair ($a, $b) is not oriented id_a < id_b")
        assert(r.getAs[Long]("payload_a") === a * 10 && r.getAs[String]("tag_a") === s"t$a",
          s"a-side payloads of ($a, $b) belong to another id")
        assert(r.getAs[Long]("payload_b") === b * 10 && r.getAs[String]("tag_b") === s"t$b",
          s"b-side payloads of ($a, $b) belong to another id")
        (r.getAs[String]("blk"), a, b)
      }.toSeq
  }

  private def assertExact(rows: Seq[(String, Long)], maxBlock: Int,
                          clue: String): Set[(String, Long, Long)] = {
    val got = coveredPairs(rows, maxBlock)
    assert(got.size === got.toSet.size, s"$clue emitted duplicate pairs")
    assert(got.toSet === referencePairs(rows, maxBlock),
      s"$clue pair set diverges from reference")
    got.toSet
  }

  private def block(blk: String, ids: Seq[Long]): Seq[(String, Long)] = ids.map(blk -> _)

  test("exact cover: pair set equals the nested-loop reference, no dupes") {
    val blockGen: Gen[(String, Int)] = for {
      blk <- Gen.oneOf("b1", "b2", "hot", "tiny")
      n <- Gen.choose(0, 40)
    } yield (blk, n)
    samples(Gen.listOfN(4, blockGen), 6).zipWithIndex.foreach {
      case (layout, caseIdx) =>
        var next = 0L
        val rows = layout.flatMap { case (blk, n) =>
          (0 until n).map { _ => next += 1; (blk, next) }
        }
        if (rows.nonEmpty) {
          // no cap, the largest block exactly at the cap, and one over it
          val largest = rows.groupBy(_._1).values.map(_.size).max
          Seq(Int.MaxValue, largest, largest - 1).foreach { cap =>
            assertExact(rows, cap, s"case $caseIdx maxBlock=$cap")
          }
        }
    }
  }

  test("payload columns track their own side's id") {
    // 30 members: one cover bucket; 600 members: three (⌈600/250⌉), so
    // off-diagonal bucket pairs meet in bucket order and must be turned
    assertExact(block("blk", 1L to 30L), Int.MaxValue, "30 members")
    val got = assertExact(block("blk", 1L to 600L), Int.MaxValue, "600 members")
    assert(got.size === 600 * 599 / 2)
  }

  test("hot block spreads over multiple join keys while small blocks keep one") {
    // observable contract: the cover is exact even when g > 1 for one
    // block and g == 1 for another in the same frame
    val rows = block("hot", 1L to 500L) ++ block("small", 501L to 505L)
    val got = assertExact(rows, Int.MaxValue, "hot + small")
    assert(got.count(_._1 == "hot") === 500 * 499 / 2)
    assert(got.count(_._1 == "small") === 5 * 4 / 2)
  }

  test("maxBlock drops each block over it whole and keeps blocks at or below it") {
    // block sizes 600 (g = 3), 251 (g = 2), 250 and 12 (g = 1), each
    // under caps that put it below, at or above the cap
    val sizes = Seq("big" -> 600, "over" -> 251, "at" -> 250, "small" -> 12)
    var next = 0L
    val rows = sizes.flatMap { case (blk, n) =>
      block(blk, (1 to n).map { _ => next += 1; next })
    }
    Map(250 -> Set("at", "small"), 599 -> Set("over", "at", "small"),
        600 -> sizes.map(_._1).toSet, Int.MaxValue -> sizes.map(_._1).toSet)
      .foreach { case (cap, kept) =>
        val got = assertExact(rows, cap, s"maxBlock=$cap")
        sizes.foreach { case (blk, n) =>
          val want = if (kept(blk)) n.toLong * (n - 1) / 2 else 0L
          assert(got.count(_._1 == blk) === want, s"maxBlock=$cap block $blk")
        }
      }
  }
}
