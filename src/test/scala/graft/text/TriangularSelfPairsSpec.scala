package graft.text

import graft.SparkSpec
import graft.plans.SimJoin
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Exact-cover contract of [[SimJoin.triangularSelfPairs]]: for any
  * block layout and any bucketSize, the emitted pair set — normalized to
  * unordered (min, max) id pairs per block — must equal the nested-loop
  * reference "every unordered pair of distinct ids within a block",
  * with no pair missing and no pair duplicated. This is the invariant the
  * q30/q126 dup-pair path, the q80 dominance scan and the q129 prefix
  * join rely on for oracle parity: the bucketing may only change HOW
  * pairs are distributed over tasks, never WHICH pairs exist.
  */
class TriangularSelfPairsSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(41L + i)))

  private def referencePairs(rows: Seq[(String, Long)]): Set[(String, Long, Long)] =
    rows.groupBy(_._1).toSeq.flatMap { case (blk, members) =>
      val ids = members.map(_._2).distinct
      for {
        i <- ids.indices; j <- (i + 1) until ids.size
      } yield (blk, math.min(ids(i), ids(j)), math.max(ids(i), ids(j)))
    }.toSet

  private def coveredPairs(rows: Seq[(String, Long)],
                           bucketSize: Int): Seq[(String, Long, Long)] = {
    val df = rows.toDF("blk", "id").withColumn("payload", col("id") * 10)
    val pairs = SimJoin.triangularSelfPairs(
      df, Seq("blk"), "id", Seq("payload"), bucketSize)
    pairs.select(col("blk"),
        least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
  }

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
          val ref = referencePairs(rows)
          // bucketSize 1 (every id its own bucket), 7 (ragged), and huge
          // (single bucket == the plain self-join) must all produce the
          // identical set
          Seq(1, 7, 1000).foreach { bs =>
            val got = coveredPairs(rows, bs)
            assert(got.size === got.toSet.size,
              s"case $caseIdx bs=$bs emitted duplicate pairs")
            assert(got.toSet === ref,
              s"case $caseIdx bs=$bs pair set diverges from reference")
          }
        }
    }
  }

  test("payload columns track their own side's id") {
    val rows = (1L to 30L).map(i => ("blk", i))
    val df = rows.toDF("blk", "id").withColumn("payload", col("id") * 10)
    val pairs = SimJoin.triangularSelfPairs(
      df, Seq("blk"), "id", Seq("payload"), bucketSize = 4)
    pairs.collect().foreach { r =>
      assert(r.getAs[Long]("payload_a") === r.getAs[Long]("id_a") * 10)
      assert(r.getAs[Long]("payload_b") === r.getAs[Long]("id_b") * 10)
    }
  }

  test("hot block spreads over multiple join keys while small blocks keep one") {
    val rows = (1L to 500L).map(i => ("hot", i)) ++ (501L to 505L).map(i => ("small", i))
    val df = rows.toDF("blk", "id").withColumn("payload", col("id"))
    // observable contract: the cover is exact even when g > 1 for one
    // block and g == 1 for another in the same frame
    val got = SimJoin.triangularSelfPairs(
        df, Seq("blk"), "id", Seq("payload"), bucketSize = 100)
      .select(col("blk"), least(col("id_a"), col("id_b")),
        greatest(col("id_a"), col("id_b")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === referencePairs(rows))
    assert(got.count(_._1 == "hot") === 500 * 499 / 2)
    assert(got.count(_._1 == "small") === 5 * 4 / 2)
  }
}
