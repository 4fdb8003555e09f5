package graft.relational

import graft.SparkSpec
import graft.plans.SimJoin
import org.apache.spark.unsafe.types.UTF8String

class EntityResolutionSpec extends SparkSpec {

  private def jw(a: String, b: String): Double =
    graft.text.JaroWinkler.similarity(
      UTF8String.fromString(a), UTF8String.fromString(b))

  /** Brute-force resolution: union-find over all in-block pairs that
    * match (equal name or JW >= minSim).
    */
  private def brute(parts: Seq[(Long, String, String)], minSim: Double)
      : Map[Long, Long] = {
    val parent = collection.mutable.Map(parts.map(p => p._1 -> p._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    def union(x: Long, y: Long): Unit = {
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
    }
    for {
      (ka, na, ba) <- parts
      (kb, nb, bb) <- parts
      if ka < kb && ba == bb &&
        na.split(" ").last == nb.split(" ").last &&
        (na == nb || jw(na, nb) >= minSim)
    } union(ka, kb)
    parts.map(p => p._1 -> find(p._1)).toMap
  }

  test("differential: resolution equals brute-force union-find over matching pairs") {
    import spark.implicits._
    val stems = Seq("amber", "ambre", "ambr", "azure", "azur", "coral",
      "chartreuse", "chartruese", "khaki")
    val rnd = new scala.util.Random(11)
    val parts = (1L to 60L).map { k =>
      (k, s"${stems(rnd.nextInt(stems.size))} widget",
        s"Brand#${rnd.nextInt(2) + 1}")
    }
    val df = parts.toDF("p_partkey", "p_name", "p_brand")
    val out = EntityResolution.resolveEntities(df, minSim = 0.95).collect()
    val expected = brute(parts, 0.95)
    val expEntities = expected.groupBy(_._2).map { case (e, ms) =>
      val members = ms.keys.toSet
      val names = parts.filter(p => members(p._1)).map(_._2).toSet
      val golden = parts.find(_._1 == e).get._2
      e -> (members.size.toLong, names.size.toLong, golden)
    }
    val gotEntities = out.map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(gotEntities === expEntities)
    // sanity: at least one multi-member entity actually formed
    assert(out.exists(_.getLong(1) > 1))
  }

  test("transitive chain resolves to one entity even when endpoints don't match directly") {
    import spark.implicits._
    // chain: each adjacent pair >= 0.95, the endpoints below threshold
    val chain = Seq("abcdefghij", "abcdefghix", "abcdefghxx")
    assert(jw(chain(0) + " w", chain(1) + " w") >= 0.95)
    assert(jw(chain(1) + " w", chain(2) + " w") >= 0.95)
    val df = chain.zipWithIndex
      .map { case (s, i) => (i.toLong + 1, s"$s w", "B") }
      .toDF("p_partkey", "p_name", "p_brand")
    val out = EntityResolution.resolveEntities(df, minSim = 0.95).collect()
    assert(out.length === 1)
    assert(out.head.getLong(0) === 1L)       // entity_id = min member
    assert(out.head.getLong(1) === 3L)       // all three members
    assert(out.head.getString(3) === s"${chain(0)} w") // golden = min's name
  }

  test("blocking isolates: same name under different brands stays separate") {
    import spark.implicits._
    val df = Seq((1L, "amber widget", "B1"), (2L, "amber widget", "B2"))
      .toDF("p_partkey", "p_name", "p_brand")
    val out = EntityResolution.resolveEntities(df, minSim = 0.95).collect()
    assert(out.map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  /** Adversarial skew: ONE (last-token, brand) block holds every row —
    * 400 distinct names × 3 records each. Uncapped, that block alone is
    * 400² = 160k candidate name pairs; the default cap (64) must split it
    * into hash sub-blocks so candidates stay ~linear in block size, while
    * exact duplicates (equal names — guaranteed same sub-block) still
    * resolve together.
    */
  private val skewStems: IndexedSeq[String] = {
    val rnd = new scala.util.Random(157)
    IndexedSeq.fill(400)((1 to 10).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
      .distinct
  }

  test("adversarial skewed block: exact duplicates resolve despite sub-block capping") {
    import spark.implicits._
    assert(skewStems.size === 400, "seed 157 must produce 400 distinct stems")
    // precondition making the expected result cap-independent: no two
    // DISTINCT names match, so resolution must group exactly by name
    for (i <- skewStems.indices; j <- (i + 1) until skewStems.size)
      assert(jw(s"${skewStems(i)} widget", s"${skewStems(j)} widget") < 0.95,
        s"fixture stems ${skewStems(i)}/${skewStems(j)} unexpectedly similar")
    val parts = (1L to 1200L).map { k =>
      (k, s"${skewStems(((k - 1) % 400).toInt)} widget", "Brand#1")
    }
    val out = EntityResolution
      .resolveEntities(parts.toDF("p_partkey", "p_name", "p_brand"), minSim = 0.95)
      .collect()
    // one entity per distinct name: members k, k+400, k+800 → id = k
    assert(out.length === 400)
    for (r <- out) {
      assert(r.getLong(1) === 3L, s"entity ${r.getLong(0)}: n_members")
      assert(r.getLong(2) === 1L, s"entity ${r.getLong(0)}: n_names")
      assert(r.getString(3) === s"${skewStems((r.getLong(0) - 1).toInt)} widget")
    }
    assert(out.map(_.getLong(0)).toSet === (1L to 400L).toSet)
  }

  test("hot-block cap bounds candidate pairs linearly in block size") {
    import spark.implicits._
    val cap = EntityResolution.MaxBlockNames
    val p = (1L to 400L).map { k =>
      (("widget": String), ("Brand#1": String), k, s"${skewStems((k - 1).toInt)} widget")
    }.toDF("blk_tok", "blk_brand", "p_partkey", "p_name")
    // sub-block ids land in [0, ceil(400/cap))
    val nsplit = (400 + cap - 1) / cap
    val subs = EntityResolution.subBlocked(p, cap)
      .select("sub").distinct().collect().map(_.getLong(0))
    assert(subs.forall(s => s >= 0 && s < nsplit))
    assert(subs.length > 1, "an oversized block must actually split")
    val capped = SimJoin.candidates(EntityResolution.subBlocked(p, cap),
      EntityResolution.Keys).count()
    val uncapped = 400L * 400L
    // hash imbalance allowance: 2 × the ideal n·cap linear bound
    assert(capped <= 2L * 400L * cap, s"candidates $capped exceed linear bound")
    assert(capped < uncapped / 4, s"candidates $capped not meaningfully capped")
    // a block at the cap is untouched: all pairs survive (sub == 0 for all)
    val small = SimJoin.candidates(EntityResolution.subBlocked(p.limit(cap), cap),
      EntityResolution.Keys).count()
    assert(small === cap.toLong * cap)
  }

  test("sub-blocks are per block: a pair split in one block links nothing there") {
    import spark.implicits._
    val cap = EntityResolution.MaxBlockNames
    def sub(name: String, nsub: Int): Long =
      Math.floorMod(graft.text.Md5P61.base(name), nsub.toLong)
    // x/y: a near-duplicate pair whose md5 sub-block ids agree mod 2 and
    // differ mod 3 — together in a block split 2 ways, apart in one split
    // 3 ways (the pair set is keyed by names only, so only the sub-block
    // key of the join-back keeps the second block from linking them)
    val (x, y) = Iterator.from(0)
      .map(i => (f"zqxjvm$i%03d widget", f"zqxjvm$i%03dk widget"))
      .find { case (a, b) =>
        jw(a, b) >= 0.95 && sub(a, 2) == sub(b, 2) && sub(a, 3) != sub(b, 3) }
      .get
    val fillers = skewStems.map(s => s"$s widget")
    for (f <- fillers.take(250); n <- Seq(x, y))
      assert(jw(f, n) < 0.95, s"filler $f unexpectedly matches $n")
    // Brand#1: 100 distinct names -> 2 sub-blocks; Brand#2: 150 -> 3
    val b1 = (x +: y +: fillers.take(98)).zipWithIndex
      .map { case (n, i) => (i + 1L, n, "Brand#1") }
    val b2 = (x +: y +: fillers.slice(100, 248)).zipWithIndex
      .map { case (n, i) => (i + 1001L, n, "Brand#2") }
    val p = SimJoin.partRecords((b1 ++ b2).toDF("p_partkey", "p_name", "p_brand"))
    val nsub = EntityResolution.subBlocked(p, cap)
      .groupBy("blk_brand").agg(org.apache.spark.sql.functions.max("sub"))
      .as[(String, Long)].collect().toMap
    assert(nsub === Map("Brand#1" -> 1L, "Brand#2" -> 2L))
    val edges = EntityResolution.edges(p, minSim = 0.95, cap)
      .as[(Long, Long)].collect().toSet
    assert(edges === Set((1L, 2L)))
  }
}
