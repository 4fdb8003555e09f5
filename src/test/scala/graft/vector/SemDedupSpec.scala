package graft.vector

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  test("semantic dedup: exact twins collapse to the lower id, others survive") {
    val base = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f)),
      (3L, Array(0.7f, 0.7f, 0.0f))
    )
    val twins = Seq((10L, Array(1.0f, 0.0f, 0.0f)), (12L, Array(0.0f, 0.0f, 1.0f)))
    val emb = (base ++ twins).toDF("vec_id", "embedding")
    val out = SemDedup.semanticDedup(emb, nClusters = 2, tau = 0.999)
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(out.map(_._1) == Seq(0L, 1L, 2L, 3L, 10L, 12L))
    val kept = out.filter(_._4).map(_._1).toSet
    // exact twins: identical cent_sim -> id tiebreak keeps the original
    assert(!kept.contains(10L) && kept.contains(0L))
    assert(!kept.contains(12L) && kept.contains(2L))
    // orthogonal-ish vectors survive a 0.999 threshold
    assert(Set(1L, 3L).subsetOf(kept))
  }

  test("semantic dedup: within a dup group the farthest-from-centroid wins") {
    // one tight cluster: a and b are near-identical; c pulls the centroid;
    // the member with LOWER centroid similarity has priority
    val emb = Seq(
      (1L, Array(1.0f, 0.00f)),
      (2L, Array(1.0f, 0.02f)), // near-twin of 1
      (3L, Array(0.9f, 0.45f))  // same cluster, far enough to survive
    ).toDF("vec_id", "embedding")
    val out = SemDedup.semanticDedup(emb, nClusters = 1, tau = 0.999)
      .as[(Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> (r._3, r._4)).toMap
    assert(out(3L)._2) // survives: cos(1,3) and cos(2,3) < 0.999
    // exactly one of the twins survives — the one with smaller cent_sim
    val (s1, k1) = out(1L); val (s2, k2) = out(2L)
    assert(k1 != k2)
    assert(if (s1 < s2) k1 else if (s2 < s1) k2 else k1)
    intercept[IllegalArgumentException] {
      SemDedup.semanticDedup(emb, nClusters = 0, tau = 0.999)
    }
    intercept[IllegalArgumentException] {
      SemDedup.semanticDedup(emb, nClusters = 1, tau = 1.5)
    }
  }

  // deterministic pseudo-random corpus (seeded; no Math.random in specs)
  private def randomCorpus(n: Int, dims: Int, seed: Long,
                           shift: Int => Array[Float] = _ => null) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val base = Array.fill(dims)((rnd.nextDouble() * 2 - 1).toFloat)
      val s = shift(i)
      val v = if (s == null) base
              else base.indices.map(d => base(d) * 0.05f + s(d)).toArray
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  private def collectAssign(df: org.apache.spark.sql.DataFrame) =
    df.select("vec_id", "cell").as[(Long, Long)].collect().sortBy(_._1).toSeq

  test("pruned assignment ≡ dense exact argmax on an unclusterable random corpus") {
    // uniform random high-dim data is the prune's WORST case (radii near
    // π/2, candidate sets approach all cells): the guarantee under test is
    // exactness, not speed — pruned must still return the identical
    // argmax, ties included
    val emb = randomCorpus(600, 16, seed = 42)
    val k = 24
    val dense = collectAssign(SemDedup.assignDense(emb, k))
    val pruned = collectAssign(SemDedup.assignPruned(emb, k))
    assert(dense.size == 600 && pruned == dense)
    // BOTH adaptive fallbacks must be output-identical — plan decisions,
    // never semantic ones: pairBudget = 0 forces past the pre-model n·k
    // gate into the SAMPLED fallback (the candidate ratio shows no pruning
    // power here, so it goes dense after building the model), the default
    // budget takes the pre-model dense shortcut
    val sampled = collectAssign(
      SemDedup.assignPruned(emb, k, adaptive = true, pairBudget = 0L))
    assert(sampled == dense)
    val preDecided = collectAssign(SemDedup.assignPruned(emb, k, adaptive = true))
    assert(preDecided == dense)
  }

  test("NULL-embedding rows drop identically on every dispatch path") {
    // the operator-boundary convention (IvfIndex.build's): a row with no
    // vector is undecodable for assignment — BOTH paths must drop it (the
    // r16 advice finding: dense kept such rows via the surviving groupBy
    // key while pruned's explode(null) removed them, and a NULL seed
    // would NPE the coarse-model build; nulls must also never become
    // seeds, which vec_id 3 here would otherwise be for some k)
    val rows: Seq[(Long, Array[Float])] = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.9f, 0.1f)), (3L, null), (4L, Array(0.2f, 0.8f)))
    val emb = rows.toDF("vec_id", "embedding")
    for (k <- Seq(2, SemDedup.DenseSeedMax + 4)) {
      val out = SemDedup.assign(emb, k)
        .select("vec_id").as[Long].collect().sorted.toSeq
      assert(out == Seq(0L, 1L, 2L, 4L), s"k=$k kept $out")
    }
    // pruned and dense agree cell-for-cell on the corpus
    val viaDense = collectAssign(
      SemDedup.assignDense(emb.filter(col("embedding").isNotNull), 2))
    val viaPruned = collectAssign(
      SemDedup.assignPruned(emb.filter(col("embedding").isNotNull), 2, adaptive = false))
    assert(viaPruned == viaDense)
  }

  test("pruned assignment ≡ dense AND actually prunes on a clustered corpus") {
    // 6 well-separated cluster directions in 24-dim space with small
    // jitter — the geometry real embedding corpora have and SemDeDup's
    // clustering presumes; m = ⌈√48⌉ = 7 learned centers can isolate them
    val dims = 24
    val centers = (0 until 6).map { c =>
      val v = Array.fill(dims)(0.0f); v(4 * c) = 1.0f
      v(4 * c + 1) = if (c % 2 == 0) 0.3f else -0.3f
      v
    }
    val emb = randomCorpus(600, dims, seed = 7, shift = i => centers(i % 6))
    val k = 48
    val dense = collectAssign(SemDedup.assignDense(emb, k))
    val pruned = collectAssign(SemDedup.assignPruned(emb, k))
    assert(pruned == dense)

    // effectiveness: the candidate filter must examine a strict subset of
    // cells on average — inspect the trained coarse model directly
    val m = math.ceil(math.sqrt(k.toDouble)).toInt
    val seedRows = emb
      .withColumn("skey",
        conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10).cast("long"))
      .orderBy("skey", "vec_id").limit(k)
      .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
      .localCheckpoint()
    val (coarse, radii) = SemDedup.coarseModel(seedRows, m)
    val cands = emb
      .select(size(VectorExprs.candidateCells(col("embedding"), coarse, radii)))
      .as[Int].collect()
    assert(cands.forall(c => c >= 1 && c <= m))
    val mean = cands.sum.toDouble / cands.length
    assert(mean < m / 2.0, s"expected real pruning on clustered data: mean $mean of $m cells")
  }

  test("pruned path end-to-end: semanticDedup via large k matches dense dedup") {
    // pin the full dedup output — assignment, centroids, dominance —
    // on BOTH plans: the public api's default dispatch (which pre-decides
    // dense at this n·k) and the non-adaptive pruned path
    val emb = randomCorpus(400, 8, seed = 11)
    val k = SemDedup.DenseSeedMax + 20
    val viaPublic = SemDedup.semanticDedup(emb, nClusters = k, tau = 0.999)
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    val viaDense = SemDedup.dedupAssigned(SemDedup.assignDense(emb, k), tau = 0.999)
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(viaPublic == viaDense && viaPublic.size == 400)
    val viaPruned = SemDedup.dedupAssigned(
        SemDedup.assignPruned(emb, k, adaptive = false), tau = 0.999)
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(viaPruned == viaDense)
  }
}
