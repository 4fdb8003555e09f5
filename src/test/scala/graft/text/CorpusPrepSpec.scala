package graft.text

import graft.SparkSpec

class CorpusPrepSpec extends SparkSpec {
  import spark.implicits._

  // three documents -> chunks of 4+4+4 | 3 | 2 tokens (window 4, stride 3)
  private val realDocs = Seq(
    (Option(1L), Option((1 to 10).map(i => s"t$i").mkString(" "))),
    (Option(2L), Option("a b c")),
    (Option(5L), Option("x y")))

  private def packDocs(docs: Seq[(Option[Long], Option[String])]) =
    CorpusPrep.packChunks(
      CorpusPrep.chunkDocuments(docs.toDF("doc_id", "text"), window = 4, stride = 3),
      budget = 5, groupSize = 2)
      .as[(Option[Long], Int, Int, Long, Long)].collect().toSeq

  test("chunking: window/stride coverage, short docs, tail chunk") {
    // 10 tokens, window 4, stride 3 -> starts 0,3,6 (ceil((10-4)/3)+1 = 3
    // chunks), tail chunk [6,10) is full; 11 tokens -> starts 0,3,6,9 with
    // a 2-token tail
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, (1 to 11).map(i => s"u$i").mkString(" ")),
      (3L, "a b")
    ).toDF("doc_id", "text")
    val chunks = CorpusPrep.chunkDocuments(docs, window = 4, stride = 3)
      .as[(Long, Int, String, Int)].collect().toSeq
    assert(chunks == Seq(
      (1L, 0, "t1 t2 t3 t4", 4), (1L, 1, "t4 t5 t6 t7", 4), (1L, 2, "t7 t8 t9 t10", 4),
      (2L, 0, "u1 u2 u3 u4", 4), (2L, 1, "u4 u5 u6 u7", 4), (2L, 2, "u7 u8 u9 u10", 4),
      (2L, 3, "u10 u11", 2),
      (3L, 0, "a b", 2)))
    // every token of every doc appears in at least one chunk
    val covered = chunks.filter(_._1 == 2L).flatMap(_._3.split(" ")).toSet
    assert(covered == (1 to 11).map(i => s"u$i").toSet)
    intercept[IllegalArgumentException] { CorpusPrep.chunkDocuments(docs, 4, 5) }
    intercept[IllegalArgumentException] { CorpusPrep.chunkDocuments(docs, 0, 1) }
  }

  test("token packing: offsets, straddling cuts, hierarchy-invariant") {
    // chunk stream: doc1 -> 4+4+4 tokens, doc2 -> 4+4+2, doc3 -> 2
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, (1 to 11).map(i => s"u$i").mkString(" ")),
      (3L, "a b")
    ).toDF("doc_id", "text")
    val chunks = CorpusPrep.chunkDocuments(docs, window = 4, stride = 3)
    val packed = CorpusPrep.packChunks(chunks, budget = 10, groupSize = 2)
      .as[(Long, Int, Int, Long, Long)].collect().toSeq
    // cumulative starts: 0,4,8 | 12,16,20,24 | 26; budget 10 cuts at 10,20
    assert(packed == Seq(
      (1L, 0, 4, 0L, 0L), (1L, 1, 4, 4L, 0L), (1L, 2, 4, 8L, 0L), // straddles cut
      (2L, 0, 4, 12L, 1L), (2L, 1, 4, 16L, 1L), (2L, 2, 4, 20L, 2L),
      (2L, 3, 2, 24L, 2L),
      (3L, 0, 2, 26L, 2L)))
    // the hierarchical decomposition is invariant in groupSize: one group,
    // one doc per group, and the default all agree
    for (gs <- Seq(1, 1000)) {
      val alt = CorpusPrep.packChunks(chunks, budget = 10, groupSize = gs)
        .as[(Long, Int, Int, Long, Long)].collect().toSeq
      assert(alt == packed, s"groupSize=$gs")
    }
    intercept[IllegalArgumentException] { CorpusPrep.packChunks(chunks, 0) }
  }

  test("corpus shuffle: seeded permutation, bucket-count invariant") {
    val docs = (0L until 100L).map(i => (i, s"doc $i")).toSeq.toDF("doc_id", "text")
    val pos = CorpusPrep.shuffleOrder(docs, seed = 7L)
      .as[(Long, Long)].collect().toSeq
    // a permutation of 0..n-1, keyed by every doc exactly once
    assert(pos.map(_._1) == (0L until 100L))
    assert(pos.map(_._2).sorted == (0L until 100L))
    // not the identity (a hash order that preserved doc order is broken)
    assert(pos.map(_._2) != (0L until 100L))
    // deterministic, and invariant in the bucket decomposition
    for (b <- Seq(1, 4, 65536)) {
      assert(CorpusPrep.shuffleOrder(docs, 7L, buckets = b)
        .as[(Long, Long)].collect().toSeq == pos, s"buckets=$b")
    }
    // the seed changes the permutation
    assert(CorpusPrep.shuffleOrder(docs, 8L)
      .as[(Long, Long)].collect().toSeq != pos)
    intercept[IllegalArgumentException] { CorpusPrep.shuffleOrder(docs, 7L, 0) }
  }

  test("training windows: concat in shuffle order, exact cuts, short tail") {
    val docs = Seq(
      (1L, "a1 a2 a3"),
      (2L, "b1 b2 b3 b4"),
      (3L, "c1 c2")
    ).toDF("doc_id", "text")
    // reference: concatenate tokens in shuffleOrder and cut every 4
    val order = CorpusPrep.shuffleOrder(docs, seed = 5L)
      .as[(Long, Long)].collect().sortBy(_._2).map(_._1)
    val tokMap = Map(1L -> Seq("a1", "a2", "a3"), 2L -> Seq("b1", "b2", "b3", "b4"),
      3L -> Seq("c1", "c2"))
    val stream = order.flatMap(tokMap)
    val ref = stream.grouped(4).zipWithIndex
      .map { case (w, i) => (i.toLong, w.size.toLong, w.mkString(" ")) }.toSeq
    val got = CorpusPrep.trainingWindows(docs, seed = 5L, windowTokens = 4)
      .as[(Long, Long, String)].collect().toSeq
    assert(got == ref)
    // 9 tokens -> windows of 4,4,1; windows cross doc boundaries
    assert(got.map(_._2) == Seq(4L, 4L, 1L))
    // groupSize decomposition is invariant
    assert(CorpusPrep.trainingWindows(docs, 5L, 4, groupSize = 1)
      .as[(Long, Long, String)].collect().toSeq == ref)
    intercept[IllegalArgumentException] {
      CorpusPrep.trainingWindows(docs, 5L, 0)
    }
  }

  test("exclusivePrefix: matches flat scan across ladder widths and key domains") {
    // sparse keys spanning the full 63-bit domain exercise every ladder
    // level, including the top collapse to key 0
    val rows = Seq(0L -> 5L, 3L -> 2L, 70000L -> 7L, (1L << 40) -> 1L,
      (1L << 62) -> 9L, (1L << 62) + 1 -> 4L)
    val flat = rows.sortBy(_._1).scanLeft(0L)(_ + _._2).init
    val expect = rows.sortBy(_._1).map(_._1).zip(flat).toMap
    val df = rows.toDF("k", "n")
    for (bits <- Seq(8, 16, 32)) {
      val got = CorpusPrep.exclusivePrefix(df, "k", "n", bits = bits)
        .as[(Long, Long)].collect().toMap
      assert(got == expect, s"bits=$bits")
    }
    intercept[IllegalArgumentException] {
      CorpusPrep.exclusivePrefix(df, "k", "n", bits = 0)
    }
  }

  test("exclusivePrefix: key outside the promised maxKeyBits domain fails loudly") {
    // the boundedness guarantee (every window partition <= 2^bits rows)
    // rests on keys < 2^maxKeyBits; a violation must error, not silently
    // unbound the windows
    val bad = Seq((1L << 50) -> 3L, 2L -> 1L).toDF("k", "n")
    val e = intercept[Exception] {
      CorpusPrep.exclusivePrefix(bad, "k", "n", bits = 16, maxKeyBits = 46)
        .collect()
    }
    assert(e.getMessage.contains("exclusivePrefix"), e.getMessage)
    // in-range keys at the same setting still produce exact prefix sums
    val ok = Seq(5L -> 2L, 9L -> 4L, (1L << 45) -> 1L).toDF("k", "n")
    val got = CorpusPrep.exclusivePrefix(ok, "k", "n", bits = 16, maxKeyBits = 46)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(5L -> 0L, 9L -> 2L, (1L << 45) -> 6L))
  }

  test("exclusivePrefix: NULL keys are dropped and shift no real key's offset") {
    // a NULL key must neither trip the key-domain guard nor reach the
    // top-level window, whose NULLS FIRST order would add its count to
    // every real key's offset (3 -> 9, 5 -> 11 instead of 0, 2)
    val rows = Seq(Option.empty[Long] -> 9L, Some(3L) -> 2L, Some(5L) -> 4L)
    val df = rows.toDF("k", "n")
    for (bits <- Seq(8, 16); maxKeyBits <- Seq(16, 63)) {
      val got = CorpusPrep.exclusivePrefix(df, "k", "n", bits = bits,
        maxKeyBits = maxKeyBits).as[(Option[Long], Long)].collect().toMap
      assert(got == Map(Some(3L) -> 0L, Some(5L) -> 2L),
        s"bits=$bits maxKeyBits=$maxKeyBits")
    }
  }

  test("token packing: an all-NULL document changes nothing") {
    // the key-domain guard is pushed below the group aggregate and through
    // chunkDocuments' explode, so it sees the raw NULL doc_id row even
    // though that document yields no chunk
    val base = packDocs(realDocs)
    assert(base.nonEmpty)
    assert(packDocs(realDocs :+ (None -> None)) == base)
  }

  test("token packing: a NULL doc_id with text leaves real start offsets unchanged") {
    // whether the NULL document's own chunks are kept is not pinned here;
    // only that they do not shift the real documents' offsets
    val base = packDocs(realDocs)
    assert(base.map(_._4) == Seq(0L, 4L, 8L, 12L, 15L))
    assert(packDocs((None -> Some("n1 n2 n3 n4")) +: realDocs)
      .filter(_._1.isDefined) == base)
  }

  test("rarity score: integer corpus-frequency sums") {
    // cf: x=3, y=2, z=1
    val docs = Seq((1L, "x x y"), (2L, "x y z")).toDF("doc_id", "text")
    val out = CorpusPrep.rarityScore(docs)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 8L, 8.0 / 3),   // 3+3+2
      (2L, 3L, 6L, 2.0)))      // 3+2+1
  }

  test("source caps: sqrt quota with floor, ranked by length then doc_id") {
    // big: 100 docs -> cap floor(sqrt(100)) = 10; tiny: 3 docs -> minCap
    // floor wins (keeps all 3); ties on n_chars break by doc_id
    val docs = ((1 to 100).map(i => (i.toLong, "big", 1000 - i)) ++
      Seq((200L, "tiny", 5), (201L, "tiny", 5), (202L, "tiny", 5)))
      .toDF("doc_id", "source", "n_chars")
    val out = CorpusPrep.sourceCaps(docs, minCap = 5)
      .as[(String, Long, Int, Long, Long)].collect().toSeq
    val big = out.filter(_._1 == "big")
    assert(big.length == 10 && big.forall(_._5 == 10L))
    assert(big.map(_._2) == (1L to 10L)) // longest = lowest i here
    val tiny = out.filter(_._1 == "tiny")
    assert(tiny.length == 3 && tiny.forall(_._5 == 5L))
    assert(tiny.map(r => (r._2, r._4)) == Seq((200L, 1L), (201L, 2L), (202L, 3L)))
  }
}
