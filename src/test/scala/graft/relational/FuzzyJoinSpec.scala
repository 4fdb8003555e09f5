package graft.relational

import graft.SparkSpec

class FuzzyJoinSpec extends SparkSpec {
  import spark.implicits._

  private def parts(rows: (Long, String, String)*) =
    rows.toSeq.toDF("p_partkey", "p_name", "p_brand")

  test("fuzzy join: near-matches inside a block pair up, distance exact") {
    val out = FuzzyJoin.blockedFuzzyPairs(parts(
      (1L, "red widget", "B1"), (2L, "rad widget", "B1"), // dist 1
      (3L, "green widget", "B1"), // dist 3+ from both
      (4L, "red widget", "B1")), // exact dup of 1 → dist 0
      maxDist = 2)
      .select("key_a", "key_b", "dist").as[(Long, Long, Int)].collect().toSet
    assert(out === Set((1L, 2L, 1), (1L, 4L, 0), (2L, 4L, 1)))
  }

  test("fuzzy join: block keys gate candidates — same name, other brand/token never pairs") {
    val out = FuzzyJoin.blockedFuzzyPairs(parts(
      (1L, "red widget", "B1"),
      (2L, "red widget", "B2"), // other brand: blocked out even at dist 0
      (3L, "red gear", "B1")), // other last token: blocked out
      maxDist = 3)
    assert(out.count() === 0)
  }

  /** Seeded linkage fixture: names "<stem> <noun>" over 60 random
    * 6-letter roots and 1–2-edit typos of them. Block (widget, Brand#1)
    * holds 200 distinct names (the one-hot block), some twice; Brand#2 and
    * Brand#3 reuse subsets of the same names — the cross-brand repeats
    * the seeded and TPC-H part tables have — and each brand also has
    * names no other brand holds.
    */
  private val linkageRows: Seq[(Long, String, String)] = {
    val rnd = new scala.util.Random(105)
    def word(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    def typo(s: String): String = {
      val i = rnd.nextInt(s.length)
      val c = ('a' + rnd.nextInt(26)).toChar
      rnd.nextInt(3) match {
        case 0 => s.updated(i, c)
        case 1 => s.patch(i, Seq(c), 0)
        case _ => if (s.length > 3) s.patch(i, Nil, 1) else s + c
      }
    }
    val roots = IndexedSeq.fill(60)(word(6))
    val stems = (roots ++ roots.flatMap(r =>
      Seq.fill(3)(if (rnd.nextBoolean()) typo(r) else typo(typo(r))))).distinct
    assert(stems.size >= 230, s"seed 105 must give 230 distinct stems, got ${stems.size}")
    val hot = stems.take(200)
    val names =
      (hot ++ hot.take(40)).map(s => (s"$s widget", "Brand#1")) ++
      hot.indices.filter(_ % 3 == 0).map(i => (s"${hot(i)} widget", "Brand#2")) ++
      hot.indices.filter(_ % 5 == 1).map(i => (s"${hot(i)} widget", "Brand#3")) ++
      stems.slice(200, 215).map(s => (s"$s widget", "Brand#2")) ++
      stems.slice(215, 230).map(s => (s"$s widget", "Brand#3")) ++
      roots.take(20).map(s => (s"$s gear", "Brand#1"))
    rnd.shuffle(names).zipWithIndex.map { case ((n, b), i) => (i + 1L, n, b) }
  }

  /** Unpruned brute force: every same-block key pair, scored by `score`. */
  private def brute[S](rows: Seq[(Long, String, String)])(score: (String, String) => Option[S])
      : Set[(Long, Long, S)] = {
    val byBlock = rows.groupBy(r => (r._2.split(" ").last, r._3))
    (for {
      (_, g) <- byBlock.toSeq
      a <- g; b <- g if a._1 < b._1
      s <- score(a._2, b._2)
    } yield (a._1, b._1, s)).toSet
  }

  private def levenshtein(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(cur(j - 1), prev(j)) + 1,
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      prev = cur
    }
    prev(b.length)
  }

  test("fuzzy join differential: equals an unpruned brute force on a seeded linkage fixture") {
    val maxDist = 3
    val got = FuzzyJoin.blockedFuzzyPairs(parts(linkageRows: _*), maxDist)
      .select("key_a", "key_b", "dist").as[(Long, Long, Int)].collect()
    val want = brute(linkageRows) { (a, b) =>
      Some(levenshtein(a, b)).filter(_ <= maxDist)
    }
    assert(got.length === got.toSet.size, "duplicate output pairs")
    assert(got.toSet === want)
    // the fixture exercises every shape: exact repeats, near-misses, and
    // the same name pair matched under several brands
    assert(want.exists(_._3 == 0) && want.exists(_._3 > 0))
    val blockOf = linkageRows.map(r => r._1 -> r._3).toMap
    val nameOf = linkageRows.map(r => r._1 -> r._2).toMap
    assert(want.filter(_._3 > 0).groupBy(w => Set(nameOf(w._1), nameOf(w._2)))
      .exists(_._2.map(w => blockOf(w._1)).size > 1))
  }

  test("jaro-winkler length-ratio prune is exact — brute force agrees on adversarial lengths") {
    // Names engineered around the bound: JW >= 0.95 forces
    // min/max length >= 0.75, and the prune must agree with an
    // unpruned brute force on pairs AT and NEAR that ratio, including
    // max-prefix-boost shapes (shared 4+ char prefixes, which maximize
    // JW for a given Jaro and so stress the bound's slack). The seeded
    // linkage fixture is the second input.
    val adversarial = Seq(
      (1L, "prefixaaaaaaaaaaa widget", "B1"), // len 24
      (2L, "prefixaaaaaaaaaab widget", "B1"), // len 24: near-identical
      (3L, "prefixa widget", "B1"),           // len 14: ratio .58 vs 24
      (4L, "prefixaaaaaaaaaaaaaaaaa widget", "B1"), // len 30: ratio .8 vs 24
      (5L, "prefixaaaaaaaaaaa gadget", "B1"),
      (6L, "zz widget", "B1"),
      (7L, "prefixaaaaaaaaaaa widget", "B2"))
    // brute force: same blocks, same kernel, NO prune
    def jw(a: String, b: String): Double = graft.text.JaroWinkler.similarity(
      org.apache.spark.unsafe.types.UTF8String.fromString(a),
      org.apache.spark.unsafe.types.UTF8String.fromString(b))
    for (rows <- Seq(adversarial, linkageRows)) {
      val got = FuzzyJoin.jaroWinklerPairs(parts(rows: _*), minSim = 0.95)
        .select("key_a", "key_b").as[(Long, Long)].collect().toSet
      val want = brute(rows) { (a, b) =>
        if (a != b && jw(a, b) >= 0.95) Some(()) else None
      }.map(w => (w._1, w._2))
      assert(got === want, s"pruned=$got brute=$want")
      assert(want.nonEmpty, "fixture must produce at least one surviving pair")
    }
  }

  test("fuzzy join: length guard is exact — never drops a pair within maxDist") {
    // edit distance >= |len(a) - len(b)|, so the guard can only remove
    // pairs that the distance filter would remove anyway
    val ps = parts(
      (1L, "a widget", "B1"), (2L, "abcd widget", "B1"), // len diff 3, dist 3
      (3L, "abcde widget", "B1")) // len diff 4 from 1 → guard AND dist both drop
    val out = FuzzyJoin.blockedFuzzyPairs(ps, maxDist = 3)
      .select("key_a", "key_b", "dist").as[(Long, Long, Int)].collect().toSet
    assert(out === Set((1L, 2L, 3), (2L, 3L, 1)))
  }
}
