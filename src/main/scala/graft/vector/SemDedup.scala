package graft.vector

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic deduplication over embeddings (SemDeDup, Abbas et al. 2023):
  * cluster the corpus, then within each cluster drop every vector that has
  * a higher-priority near-semantic twin (cosine ≥ τ). Priority follows the
  * paper: vectors FARTHER from their cluster centroid win (low centroid
  * similarity = more diverse representative), ties by id.
  *
  * Determinism/oracle design — every stage is exact:
  *  - cluster seeds are the `nClusters` vectors with the smallest md5-p61
  *    hash of their id (the [[graft.text.Md5P61]] family both engines
  *    express) — a deterministic, corpus-spread seed set;
  *  - assignment = argmax cosine to the seed set (sequential double fold,
  *    ties to the smaller seed id);
  *  - the centroid is the mean of the cluster's ×1e6-QUANTIZED members —
  *    long sums, exact at any partitioning (the q76 idiom);
  *  - the drop rule is a one-pass dominance test (a higher-priority
  *    in-cluster vector within τ exists) — no iteration, no RNG.
  *
  * At 100 TB: assignment is two-level — a small coarse-center matrix
  * (√k rows) broadcast for a narrow candidate-cell map, then an exact
  * cosine argmax against only the candidate cells' seed lists (see
  * [[assign]]; the old single-level form broadcast the FULL k-row seed
  * matrix — 512 MB at the 1<<20 cap — and scored all n·k pairs); the
  * centroid update shuffles (cell, dim) scalars; the dominance join is
  * (cell, bucket-pair)-partitioned with O(cluster²) comparisons total —
  * bounded by sizing nClusters ≈ corpus/target_cluster_size exactly as the
  * paper does (the clustering exists to bound this stage; same knob as
  * IVF's nlist) and spread over g(g+1)/2 join keys per cell by the same
  * bucket cover as the q129 prefix join ([[graft.plans.SimJoin.blockPairs]]),
  * so one hot cluster cannot serialize into a single task.
  */
object SemDedup {

  private val Q = 1000000.0

  /** The paper's own cluster-count knob: nClusters ≈ corpus / target
    * cluster size (SemDeDup sizes k so the within-cluster pair scan stays
    * bounded — the clustering EXISTS to bound that stage). A fixed k makes
    * cluster populations grow linearly with the corpus and the pair work
    * quadratically (the r14 q80 54×-growth finding); deriving k from the
    * input count caps expected cluster size at `targetClusterSize`, so the
    * pair stage is O(n · target) instead of O(n²/k). Integer ceil, floor 8
    * (the historical fixture k — sf0.01 corpora keep their exact prior
    * results), mirrored verbatim by the oracle's cnt CTE.
    */
  def nClustersFor(n: Long, targetClusterSize: Long = 1000L): Int =
    math.min(math.max(8L, (n + targetClusterSize - 1) / targetClusterSize),
      1L << 20).toInt

  def semanticDedup(emb: DataFrame, nClusters: Int, tau: Double): DataFrame =
    dedupAssigned(assign(emb, nClusters), tau)

  /** Below this seed count the single-level dense scan (broadcast all k
    * seeds, score n·k pairs) is unconditionally cheaper: the broadcast is
    * ≤ ~40 KB and the pruned path's model build + candidate shuffle can't
    * pay for themselves. 128 sits below the sf10 gate's k = 201, so the
    * 100× correctness gate exercises the two-level scale path, not the
    * toy one.
    */
  private[vector] val DenseSeedMax = 128

  /** Ceiling for the ADAPTIVE dense fallback: when the two-level path
    * measures (on a deterministic 1% hash-sample) that the candidate
    * filter has no pruning power — uniform/unclusterable geometry, the
    * prune's provable worst case — and the full seed broadcast is still
    * small (≤ ~2.5 MB here), scanning densely beats shipping n·|C| ≈ n·m
    * candidate rows through a shuffle for the same pair count. Past this
    * k the broadcast is no longer small and the candidate join is the
    * only shape that scales, whatever the geometry.
    */
  private[vector] val DenseFallbackMax = 8192

  /** Pair-count ceiling for the PRE-MODEL dense decision: when k is
    * broadcastable (≤ [[DenseFallbackMax]]) and n·k is under this budget,
    * the single codegen'd dense scan finishes before the two-level path's
    * coarse-model build (≈10 driver round-trips) plus 1%-sample probe
    * would even complete — the r16 sf10 gate measured that overhead at
    * +55% on top of the dense fallback it chose anyway (k = 201,
    * n·k ≈ 4×10⁷). Both inputs are known from two cheap counts, so the
    * decision costs nothing.
    *
    * Value from the r17 `tools/SemDedupSweep` measurement (n = 100k,
    * 64-dim, k ∈ {64..8192}, clustered AND uniform — SCALE.md r17): the
    * clustered-corpus crossover sits in n·k ∈ [1e8, 4e8] (dense 6.8 s at
    * 1e8 vs pruned 14.6 s; dense ≥ 2× pruned by 4e8), and on uniform
    * corpora pruned NEVER wins (the sampled fallback past this budget
    * handles that geometry). 2×10⁸ keeps the model build off every
    * corpus where the dense scan is ≤ ~10 s anyway; with the operator's
    * own nClustersFor coupling (k ≈ n/1000 → n·k ≈ 1000·k²) the budget
    * flips to two-level at k ≈ 450, i.e. corpora past ~450k vectors.
    */
  private[vector] val DensePairBudget = 200000000L

  /** Safety margin absorbing double/acos rounding in the angular prune —
    * see [[VectorExprs.CandidateCells]]; it only ever ENLARGES candidate
    * sets. */
  private val PruneEps = 1e-6

  private def seedKey: org.apache.spark.sql.Column =
    conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10).cast("long")

  /** Exact per-vector argmax over the scored (vec_id, embedding, seed_id,
    * cos) candidates, ties to the smaller seed_id — the same total order
    * as the historical `row_number OVER (ORDER BY cos DESC, seed_id)`
    * window, but as an aggregate: partial map-side combine collapses each
    * partition to one row per vec_id BEFORE the shuffle, so n rows move
    * instead of the n·k scored set the window form exchanged.
    */
  private def argmaxSeed(scored: DataFrame): DataFrame =
    scored.groupBy(col("vec_id"))
      .agg(max(struct(col("cos"),
        (-col("seed_id")).as("nseed"), // max(-id) = min id on the cos tie
        col("seed_id").as("cell"), col("embedding").as("emb"))).as("m"))
      .select(col("vec_id"), col("m.emb").as("embedding"), col("m.cell").as("cell"))

  /** Assignment stage alone — (vec_id, embedding, cell). Split out so the
    * sf10 staged oracle can persist exactly this table (the argmax over
    * seeds is the one q80 fragment DuckDB cannot afford at sf10: n·k
    * 64-dim cosines through per-element lambdas measure ~0.14M pairs/s →
    * ~30 min for the 2.5×10⁸-pair scored CTE, vs seconds for the engine's
    * codegen'd kernel).
    *
    * Dispatches on k: dense single-level scan up to [[DenseSeedMax]]
    * seeds, the two-level angular-pruned scan past it (which may itself
    * fall back adaptively — see [[assignPruned]]). EVERY path is the
    * exact argmax (the prune is lossless —
    * [[VectorExprs.CandidateCells]]), so dispatch is a pure performance
    * knob, never a semantic one; SemDedupSpec pins dense ≡ pruned on
    * both random and clustered corpora.
    */
  def assign(emb: DataFrame, nClusters: Int): DataFrame = {
    require(nClusters >= 1, s"nClusters must be >= 1, got $nClusters")
    // NULL-embedding rows are dropped HERE, at the operator boundary, the
    // same convention as IvfIndex.build (a row with no vector is
    // undecodable for assignment): before this filter the two dispatch
    // paths silently DIVERGED on such rows — the dense argmax kept them
    // (null cosines lose every struct-max comparison but the groupBy key
    // survives) while the pruned path's explode(candidateCells(null))
    // removed them — violating the "dispatch is never a semantic knob"
    // invariant, and a NULL seed would NPE the coarse-model build. The
    // oracle's vecs CTE applies the identical `embedding IS NOT NULL`.
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull)
    if (nClusters <= DenseSeedMax) assignDense(vecs, nClusters)
    else assignPruned(vecs, nClusters, adaptive = true)
  }

  private[graft] def assignDense(vecs: DataFrame, nClusters: Int): DataFrame = {
    val seeds = vecs.orderBy(seedKey, col("vec_id")).limit(nClusters)
      .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
    argmaxSeed(vecs.crossJoin(broadcast(seeds))
      .withColumn("cos", VectorExprs.cosineSim(col("embedding"), col("seed_vec"))))
  }

  /** Two-level EXACT assignment (the large-k scale path — SemDeDup's own
    * practice at claimed 100M+ corpus sizes, made lossless):
    *
    *  1. seed selection avoids sorting the corpus: the k smallest md5-p61
    *     keys are uniform in [0, 16^15), so a 4×-slack hash-threshold
    *     prefilter keeps ~4k rows and only THOSE are sorted (exact
    *     fallback to the full sort if the filter ever undershoots — a
    *     count guards it, so the result is always the same k seeds);
    *  2. a √k-center coarse quantizer trained over the seed set with
    *     [[IvfIndex]]'s deterministic Lloyd machinery, with per-cell
    *     cover radii from one seed-side aggregate ([[coarseModel]]);
    *  3. each vector maps to its candidate coarse cells via the lossless
    *     triangle-inequality filter ([[VectorExprs.CandidateCells]] — the
    *     only broadcast is the √k-row coarse matrix), then joins the
    *     candidate cells' seed lists, salted into ≤256-seed sub-buckets
    *     (the dominance join's remedy) so one hot coarse cell cannot
    *     serialize into a single task;
    *  4. exact cosine + [[argmaxSeed]].
    *
    * On clusterable (real) corpora candidate sets are O(1) cells →
    * O(n·√k) work; on uniform random high-dim data radii approach π/2
    * and it degrades to the dense pair count (still exact, still
    * map-side-combined — no method that must return the exact argmax
    * beats brute force on unclusterable data).
    */
  /** The coarse quantizer for the pruned scan: m centers trained with
    * [[IvfIndex]]'s Lloyd machinery (k-means|| init, 2 iterations —
    * deterministic xxhash coins, so the model is identical at any
    * partitioning) over the SEED set only (k rows — trivial next to n),
    * plus the per-cell cover radii r_j = max member angle + [[PruneEps]].
    * Sentinel r_j = −1 marks a memberless cell (excluded from both prune
    * bounds — it holds no seeds); r_j = π pins a zero-norm center's cell
    * un-prunable (its angles are the pinned-0 convention, not a metric).
    * Exactness never depends on what the centers are — they only shape
    * how much the lossless filter manages to prune.
    */
  private[vector] def coarseModel(seeds: DataFrame, m: Int): (Array[Array[Float]], Array[Double]) = {
    val spark = seeds.sparkSession
    import spark.implicits._
    val seedCorpus = seeds.select(col("seed_id").as("vec_id"),
      col("seed_vec").as("embedding"))
    // hash-Forgy init, not k-means||: the model is built over k seed rows
    // (small next to n), where Forgy + 2 Lloyd rounds reach the same
    // coarse quality in ~5 Spark jobs vs k-means||'s dozen-plus driver
    // round-trips; pruning quality only shapes SPEED, never the result
    val coarse: Array[Array[Float]] = IvfIndex.train(seedCorpus, m, iters = 2,
        init = IvfIndex.initHashForgy)
      .select(col("cell"), col("centroid")).as[(Int, Array[Float])].collect()
      .sortBy(_._1).map(_._2)
    val radii = Array.fill(coarse.length)(-1.0)
    seeds.withColumn("nc", VectorExprs.nearestCentroid(col("seed_vec"), coarse))
      .select(col("nc.cell").as("ccell"),
        acos(greatest(lit(-1.0), least(lit(1.0), col("nc.sim")))).as("theta"))
      .groupBy(col("ccell")).agg(max(col("theta")).as("r")).collect()
      .foreach(r => radii(r.getInt(0)) = r.getDouble(1) + PruneEps)
    coarse.zipWithIndex.foreach { case (ce, j) =>
      if (radii(j) >= 0 && ce.forall(_ == 0.0f)) radii(j) = math.Pi
    }
    (coarse, radii)
  }

  private[graft] def assignPruned(vecs0: DataFrame, k: Int,
                                  adaptive: Boolean = false,
                                  pairBudget: Long = DensePairBudget): DataFrame = {
    val spark = vecs0.sparkSession
    import spark.implicits._
    // NOT localCheckpointed despite 4 consumers (count, seed scan,
    // dispatch sample, candidates): the lineage is a column-pruned
    // parquet scan, and re-scanning beats materializing the whole
    // corpus — the checkpoint write was ~1/3 of the adaptive path's
    // overhead over plain dense at the sf10 gate
    val vecs = vecs0
    val n = vecs.count()
    if (n == 0)
      return vecs.select(col("vec_id"), col("embedding"),
        col("vec_id").as("cell")).limit(0)

    // Pre-model dense decision (r16: the adaptive path built the coarse
    // model + ran the 1% sample and then chose dense anyway at the sf10
    // gate's k = 201 — +55% pure overhead). Both inputs are already-known
    // scalars, so when the full n·k scan is under budget and the seed
    // broadcast is small, skip the model build entirely. Same seeds, same
    // exact argmax — a plan decision only.
    if (adaptive && k <= DenseFallbackMax && n * k.toLong <= pairBudget)
      return assignDense(vecs, k)

    val withKey = vecs.withColumn("skey", seedKey)
    val space = BigInt(16).pow(15)
    val tau = space * BigInt(4L * k) / BigInt(n)
    val pool0 = if (tau >= space) withKey
                else withKey.filter(col("skey") <= tau.toLong)
    val pool = if (pool0.count() >= math.min(k.toLong, n)) pool0 else withKey
    val seeds = pool.orderBy(col("skey"), col("vec_id")).limit(k)
      .select(col("skey"), col("vec_id").as("seed_id"),
        col("embedding").as("seed_vec"))
      // lazy: coarseModel's own collect right below is the first action
      // and materializes the persisted seeds in the same job (eager paid
      // a separate materialization job — scheduling floor at bench scale)
      .localCheckpoint(false)

    val m = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val (coarse, radii) = coarseModel(seeds, m)

    // Adaptive fallback: measure the filter's pruning power on a
    // deterministic 1% hash-sample. Near-full candidate sets mean
    // uniform/unclusterable geometry — the same n·k pair count either
    // way — so while the full seed broadcast stays small, the dense scan
    // (no candidate shuffle) is strictly cheaper. Same seeds, same
    // argmax: a plan decision only.
    if (adaptive && k <= DenseFallbackMax) {
      val live = radii.count(_ >= 0.0).toDouble
      val sampled = vecs
        .filter(pmod(xxhash64(col("vec_id"), lit("semdedup-dispatch")), lit(100)) < 1)
        .select(avg(size(VectorExprs.candidateCells(col("embedding"), coarse, radii, PruneEps))))
        .collect()(0)
      val meanCands = if (sampled.isNullAt(0)) live else sampled.getDouble(0)
      if (meanCands > 0.5 * live)
        return argmaxSeed(vecs
          .crossJoin(broadcast(seeds.select(col("seed_id"), col("seed_vec"))))
          .withColumn("cos", VectorExprs.cosineSim(col("embedding"), col("seed_vec"))))
    }

    val sa = seeds
      .withColumn("nc", VectorExprs.nearestCentroid(col("seed_vec"), coarse))
      .select(col("seed_id"), col("seed_vec"), col("nc.cell").as("ccell"))
      .localCheckpoint(false) // lazy: cellG's broadcast build materializes it

    val S = 256
    val seedBuckets = sa
      .withColumn("g", expr(
        s"cast((count(1) over (partition by ccell) + ${S - 1}) div $S as int)"))
      .withColumn("sb", pmod(xxhash64(col("seed_id")), col("g")).cast("int"))
    val cellG = seedBuckets.select(col("ccell"), col("g")).distinct()
    val seedSide = seedBuckets
      .select(col("seed_id"), col("seed_vec"), col("ccell"), col("sb"))

    val cands = vecs
      .withColumn("ccell",
        explode(VectorExprs.candidateCells(col("embedding"), coarse, radii, PruneEps)))
      .join(broadcast(cellG), Seq("ccell")) // inner: memberless cells drop out
      .withColumn("sb", explode(sequence(lit(0), col("g") - 1)))
    val pin = Seq(col("ccell"), col("sb"))
    val scored = Tables.spread(cands, pin: _*)
      .join(Tables.spread(seedSide, pin: _*), Seq("ccell", "sb"))
      .withColumn("cos", VectorExprs.cosineSim(col("embedding"), col("seed_vec")))
    argmaxSeed(scored)
  }

  /** Everything downstream of assignment: quantized centroids, dominance. */
  private[vector] def dedupAssigned(assignedIn: DataFrame, tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    val assigned = assignedIn.select(col("vec_id"), col("embedding"), col("cell"),
      transform(col("embedding").cast("array<double>"),
        v => round(v * Q).cast("long")).as("qv"))

    val cent = assigned
      .select(col("cell"), posexplode(col("qv")).as(Seq("dim", "qval")))
      .groupBy(col("cell"), col("dim"))
      .agg(sum(col("qval")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(struct(col("dim"), col("s"), col("n")))).as("dm"))
      .select(col("cell"), transform(col("dm"),
        e => e.getField("s").cast("double") / e.getField("n")).as("cvec"))

    // withSim is consumed three times below (both pair sides + the final
    // left join); cut the window+centroid lineage once instead of
    // re-executing it per consumer (the q79/q33 idiom). Slim rows only.
    val withSim = assigned.join(cent, Seq("cell"))
      .withColumn("cent_sim",
        VectorExprs.cosineSim(col("qv").cast("array<double>"), col("cvec")))
      .select(col("cell"), col("vec_id"), col("embedding"), col("cent_sim"))
      .localCheckpoint(false) // lazy: the first pair-side consumer materializes

    // Dominance: within a cell every vector meets every other — O(cluster²)
    // CPU-dense pairs (64-dim cosine) over a few cell keys, so the pairs
    // go through the bucket cover (SimJoin.blockPairs; no cell is capped).
    // Each unordered pair is tested ONCE and emits its dominance LOSER —
    // the (cent_sim, vec_id)-lexicographic larger end; vec_id_a < vec_id_b,
    // so that is b unless a's cent_sim is the larger — which is equivalent
    // to the ordered "∃ dominating rival within τ" rule because
    // (cent_sim, vec_id) strictly totally orders a cell, at half the cosine
    // evaluations of the ordered form.
    val dropped = Tables.spread(
        graft.plans.SimJoin.blockPairs(withSim, Seq("cell"), "vec_id",
            Seq("embedding", "cent_sim"), Int.MaxValue)
          .filter(VectorExprs.cosineSim(col("embedding_a"), col("embedding_b")) >= tau)
          .select(when(col("cent_sim_a") <= col("cent_sim_b"), col("vec_id_b"))
            .otherwise(col("vec_id_a")).as("vec_id")),
        col("vec_id"))
      .distinct()
      .withColumn("is_dropped", lit(true))

    withSim.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        GraftQuery.duckRound(col("cent_sim"), 8).as("cent_sim"),
        col("is_dropped").isNull.as("is_kept"))
      .orderBy(col("vec_id"))
  }

  // ---- queries -------------------------------------------------------------

  /** The qv quantization, shared character-identically by the full oracle's
    * assigned CTE and the staged one (the staged table stores only
    * vec_id/cell/embedding; qv is derived the same way in both variants).
    */
  private val duckQv: String =
    "list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT))"

  /** Everything downstream of the assigned CTE — centroids, dominance scan,
    * final projection — shared VERBATIM between the full and staged oracle
    * variants (the StagedOracle trust argument: the two can only diverge in
    * the upstream being staged, and that upstream is hash-verified by the
    * full oracle at sf0.01/sf0.1/sf1 where k is small enough for DuckDB).
    */
  private def q80Downstream: String = s"""
      cd AS (
        SELECT cell, dim, sum(qval) AS s, count(*) AS n FROM (
          SELECT cell, u.dim AS dim, u.qval AS qval FROM (
            SELECT cell, unnest(list_transform(generate_series(1, len(qv)),
              i -> struct_pack(dim := i, qval := qv[i]))) AS u
            FROM assigned) t) GROUP BY cell, dim),
      cent AS (
        SELECT cell, list(CAST(s AS DOUBLE) / n ORDER BY dim) AS cvec
        FROM cd GROUP BY cell),
      ws AS MATERIALIZED (
        SELECT a.vec_id, a.cell, a.embedding,
               ${Similarity.duckCosine("a.qv", "c.cvec")} AS cent_sim
        FROM assigned a JOIN cent c ON a.cell = c.cell),
      -- Lossless candidate pre-filter for the in-cell dominance scan: the
      -- bare ws-ws cell self-join is O(cell_size^2) exact cosines (5x10^9
      -- pairs at sf10 — hours in any engine). Angular distance is a metric
      -- on the sphere, so cos(x,y) >= 0.999 implies, for EVERY fixed
      -- reference r, |angle(x,r) - angle(y,r)| <= acos(0.999) = 0.04473.
      -- Bucketing the angles to the first five coordinate axes at width
      -- 0.06 (1.34x the bound — vastly more than fp rounding needs) means
      -- every qualifying pair lands in the same-or-adjacent bucket per
      -- axis; scanning the 3^5 neighbor offsets therefore reaches EVERY
      -- pair the original predicate could accept, and the survivors face
      -- the exact original cosine test. Zero-norm rows are excluded from
      -- the scan: the cosine guard pins their similarity to 0.0, so no
      -- qualifying pair can involve one. Same result set, ~100x fewer
      -- exact cosines (measured 3.5x10^8 candidate pairs pre-cell at sf10).
      -- The per-row norm is hoisted (identical expression, evaluated once),
      -- so the surviving pairs' cosine is the same op tree as duckCosine.
      -- ASSUMPTION (asserted below, not silent): the proof requires
      -- UNIFORM-LENGTH vectors — with mixed lengths the fold runs over
      -- len(x) while each norm runs over its own length, the tested
      -- quantity is no longer a true cosine, and the triangle-inequality
      -- cover no longer reaches every qualifying pair. ulen makes a
      -- mixed-length corpus fail LOUDLY instead of diverging silently.
      ulen AS (
        SELECT CASE WHEN count(DISTINCT len(embedding)) <= 1 THEN 1
               ELSE CAST(error('q80 angular pre-filter assumes uniform embedding length; corpus is mixed-length') AS INT)
               END AS ok
        FROM ws),
      bks AS MATERIALIZED (
        SELECT vec_id, cell, cent_sim, embedding, nrm,
               list_transform(generate_series(1, 5),
                 i -> CASE WHEN i <= len(embedding)
                      THEN CAST(floor(acos(greatest(-1.0, least(1.0,
                             CAST(embedding[i] AS DOUBLE) / nrm))) / 0.06) AS BIGINT)
                      ELSE 0 END) AS bs
        FROM (SELECT vec_id, cell, cent_sim, embedding,
                sqrt(${Similarity.duckFold(
      "CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)", "len(embedding)")}) AS nrm
              FROM ws) pre
        WHERE nrm > 0 AND (SELECT ok FROM ulen) = 1),
      offs AS (
        SELECT d1.o AS o1, d2.o AS o2, d3.o AS o3, d4.o AS o4, d5.o AS o5
        FROM (VALUES (-1),(0),(1)) d1(o) CROSS JOIN (VALUES (-1),(0),(1)) d2(o)
        CROSS JOIN (VALUES (-1),(0),(1)) d3(o) CROSS JOIN (VALUES (-1),(0),(1)) d4(o)
        CROSS JOIN (VALUES (-1),(0),(1)) d5(o)),
      dropped AS (
        SELECT DISTINCT x.vec_id FROM
          (SELECT b.vec_id, b.cell, b.cent_sim, b.embedding, b.nrm,
                  bs[1]+o1 AS k1, bs[2]+o2 AS k2, bs[3]+o3 AS k3,
                  bs[4]+o4 AS k4, bs[5]+o5 AS k5
           FROM bks b CROSS JOIN offs) x
          JOIN bks y ON x.cell = y.cell AND x.k1 = y.bs[1] AND x.k2 = y.bs[2]
                    AND x.k3 = y.bs[3] AND x.k4 = y.bs[4] AND x.k5 = y.bs[5]
        WHERE y.vec_id != x.vec_id
          AND (y.cent_sim < x.cent_sim
               OR (y.cent_sim = x.cent_sim AND y.vec_id < x.vec_id))
          AND ${Similarity.duckFold(
      "CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)", "len(x.embedding)")}
              / (x.nrm * y.nrm) >= 0.999)
      SELECT w.vec_id, w.cell, round(w.cent_sim, 8) AS cent_sim,
             d.vec_id IS NULL AS is_kept
      FROM ws w LEFT JOIN dropped d ON w.vec_id = d.vec_id
      ORDER BY w.vec_id"""

  /** Persist the assignment table (vec_id, cell, embedding) for the sf10
    * staged oracle — the one q80 fragment whose all-DuckDB form is
    * intractable at that scale (the n·k argmax: ~0.14M 64-dim cosine
    * pairs/s through per-element lambdas → ~30 min measured; the engine's
    * codegen kernel does it in seconds). Guarded by the [[graft.StagedOracle]]
    * freshness contract (_SUCCESS + fixture fingerprint).
    */
  private def stageAssigned(table: String)(
      spark: org.apache.spark.sql.SparkSession, sfDir: String,
      stageDir: String): Unit = {
    val dest = new java.io.File(stageDir, table)
    if (graft.StagedOracle.isFresh(dest, sfDir)) return
    val e = Tables.embeddings(spark, sfDir)
    val planted = e.filter(col("vec_id") < 10).select(
      (col("vec_id") + 1000000).as("vec_id"), col("embedding"))
    val corpus = e.select(col("vec_id"), col("embedding")).unionByName(planted)
    assign(corpus, nClustersFor(corpus.count()))
      .write.mode("overwrite").parquet(dest.getAbsolutePath)
    graft.StagedOracle.markComplete(dest, sfDir)
  }

  /** q80: embeddings + planted exact copies (the corpus is random, so
    * near-twins only exist if planted — the q30/q56 pattern); every planted
    * copy must be dropped in favor of its lower-id original. The oracle
    * replays the full pipeline: seed selection, argmax assignment,
    * quantized centroids, dominance test. nClusters follows the paper's
    * knob (corpus/1000, floor 8) in BOTH engines, so cluster populations —
    * and with them the dominance stage's O(cluster²) pair work — stay
    * bounded as the corpus grows (the r14 54×-growth fix).
    */
  val qSemDedup = GraftQuery(
    "q80_semantic_dedup",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val planted = e.filter(col("vec_id") < 10).select(
        (col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      val corpus = e.select(col("vec_id"), col("embedding")).unionByName(planted)
      // one cheap count action to size k — the same count the oracle's cnt
      // CTE takes; at sf0.01 (510 vecs) this is the historical k = 8
      semanticDedup(corpus, nClusters = nClustersFor(corpus.count()), tau = 0.999)
    },
    Some(s"""
      WITH vecs AS MATERIALIZED (
        -- embedding IS NOT NULL mirrors assign()'s operator-boundary drop
        SELECT vec_id, embedding FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) embeddings
        WHERE embedding IS NOT NULL
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, embedding
        FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) embeddings
        WHERE vec_id < 10 AND embedding IS NOT NULL),
      cnt AS (
        SELECT greatest(8, CAST(ceil(count(*) / 1000.0) AS BIGINT)) AS k FROM vecs),
      seeds AS (
        SELECT vec_id AS seed_id, embedding AS seed_vec
        FROM (SELECT vec_id, embedding, row_number() OVER (
                ORDER BY ${graft.text.Md5P61.duckBase("CAST(vec_id AS VARCHAR)")},
                         vec_id) AS rn
              FROM vecs) sr
        WHERE rn <= (SELECT k FROM cnt)),
      scored AS (
        SELECT v.vec_id, v.embedding, s.seed_id,
               ${Similarity.duckCosine("v.embedding", "s.seed_vec")} AS cos
        FROM vecs v CROSS JOIN seeds s),
      assigned AS (
        SELECT vec_id, embedding, seed_id AS cell, $duckQv AS qv
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY cos DESC, seed_id) AS rn FROM scored)
        WHERE rn = 1),$q80Downstream"""),
    staged = Some(graft.StagedOracle(
      write = stageAssigned("semdedup_assigned.parquet"),
      sql = s"""
      WITH assigned AS MATERIALIZED (
        SELECT vec_id, embedding, cell, $duckQv AS qv
        FROM read_parquet('{STAGE}/semdedup_assigned.parquet/*.parquet')),$q80Downstream""")))

  val queries: Seq[GraftQuery] = Seq(qSemDedup)
}
