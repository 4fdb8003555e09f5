package graft.vector

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: k-means-style coarse
  * quantization into `nlist` cells, search probes only the `nprobe` nearest
  * cells' inverted lists.
  *
  * Scale design:
  *  - assignment is a NARROW map — the (tiny) centroid matrix is collected
  *    and evaluated per row by the broadcast-argmin `NearestCentroid`
  *    expression, so a Lloyd iteration never shuffles corpus vectors; the
  *    only shuffle is the centroid update's (cell, dim, scalar) aggregate;
  *  - initial centroids come from a k-means||-style sampled oversampling
  *    (see initCentroids) — reproducible, spread across the data's
  *    geometry, no driver gather of the corpus;
  *  - search: nprobe nearest centroids (driver math on the tiny matrix) →
  *    filter on cell id → exact cosine rank within the probed lists.
  *
  * At 100 TB: training touches the corpus iters+rounds times with narrow
  * scans plus scalar-only aggregates; a query scans ~nprobe/nlist of the
  * data. Compare annLsh (hyperplane buckets, no training).
  */
object IvfIndex {

  private def cosSeq(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Assign each vector its nearest-centroid cell — narrow map, no shuffle. */
  private def assign(vecs: DataFrame, cents: Array[Array[Float]]): DataFrame =
    vecs
      .withColumn("nc", VectorExprs.nearestCentroid(col("embedding"), cents))
      .select(col("vec_id"), col("embedding"), col("nc.cell").as("cell"))

  /** Element-wise mean of each cell's vectors → new centroids. The shuffle
    * carries (cell, dim, scalar) triples, never whole vectors.
    *
    * The mean is computed over components rounded to ×1e6 integers:
    * integer sums are exact at ANY partitioning, so the trained
    * centroids are bit-identical run to run and cluster size to cluster
    * size — a reproducible-index-build guarantee a float `avg` (whose
    * partial-sum merge order is partition-dependent) cannot give, and
    * what lets the q38_ivf_build oracle transliterate the Lloyd rounds
    * exactly. The 1e-6 quantum is far below any ANN-relevant resolution.
    */
  private def recompute(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      .agg((sum(round(col("x") * lit(1e6)).cast("long")).cast("double") /
        count(lit(1)).cast("double") / lit(1e6)).as("m"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("cell"),
        transform(col("dm"), e => e.getField("m").cast("float")).as("centroid"))

  /** One Lloyd iteration: assign, recompute, carry a cell that lost all
    * members over unchanged (standard Lloyd; the previous sort-and-drop
    * silently RENUMBERED the surviving cells, shifting every later
    * assignment).
    */
  private def lloydStep(vecs: DataFrame, cents: Array[Array[Float]]): Array[Array[Float]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val updated = recompute(assign(vecs, cents))
      .as[(Int, Array[Float])].collect().toMap
    cents.indices.map(i => updated.getOrElse(i, cents(i))).toArray
  }

  private def collectCentroids(centroids: DataFrame): Array[Array[Float]] = {
    val spark = centroids.sparkSession
    import spark.implicits._
    centroids.select(col("cell"), col("centroid"))
      .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2)
  }

  private def centroidsDf(spark: SparkSession, cents: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    cents.toSeq.map(_.toSeq).zipWithIndex.map(_.swap).toDF("cell", "centroid")
      .select(col("cell"), col("centroid").cast("array<float>").as("centroid"))
  }

  /** k-means||-style initial centroids (Bahmani et al.): a few rounds of
    * distance²-proportional oversampling (deterministic xxhash64 coin
    * flips — reproducible across partitionings), then the ≤ 2·nlist·rounds
    * candidates are weighted by population and reduced to nlist centers
    * driver-side via weighted farthest-point selection. Replaces
    * first-nlist-by-id init, which degenerates on sorted corpora (the id
    * prefix is one region of the space → all seeds in one cluster).
    * Runs on a deterministic ~20% hash-sample (seed and candidate padding
    * fall back to the full corpus, so tiny corpora still initialize):
    * the init needs representative geometry, not every row — the Lloyd
    * iterations that follow see the full corpus.
    */
  private[vector] def initCentroids(corpus: DataFrame, nlist: Int,
                                    rounds: Int = 2): Array[Array[Float]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val l = 2 * nlist // oversampling factor per round
    val full = corpus.select(col("vec_id"), col("embedding"))
    // Init rounds run on a deterministic ~20% hash-sample: k-means|| needs
    // representative geometry, not every row — the Lloyd iterations that
    // follow see the full corpus. Sampling is by id HASH only (never by id
    // magnitude — offset id ranges would otherwise empty the sample); the
    // seed and the too-few-candidates pad draw from the FULL corpus, so a
    // tiny or unluckily-hashed corpus still initializes correctly.
    val vecs = full
      .filter(pmod(xxhash64(col("vec_id"), lit("ivf-init")), lit(100)) < 20)
      .cache()

    // deterministic seed: the vector with minimum id hash (full corpus —
    // the sample may be empty on tiny inputs)
    var candidates: Vector[(Long, Seq[Float])] = Vector(
      full.withColumn("h", xxhash64(col("vec_id")))
        .orderBy(col("h"), col("vec_id")).limit(1)
        .as[(Long, Seq[Float], Long)].collect().map(t => (t._1, t._2)).head)

    (0 until rounds).foreach { r =>
      val candArr = candidates.map(_._2.toArray).toArray
      // d² to the current candidate set, per vector — narrow map
      val scored = vecs
        .withColumn("nc", VectorExprs.nearestCentroid(col("embedding"), candArr))
        .select(col("vec_id"), col("embedding"),
          pow(lit(1.0) - col("nc.sim"), 2).as("d2"))
        .cache()
      val totalRow = scored.agg(sum(col("d2"))).collect()(0)
      val total = if (totalRow.isNullAt(0)) 0.0 else totalRow.getDouble(0)
      if (total > 0) {
        // Bernoulli(min(1, l·d²/Σd²)) with a deterministic hash as the coin
        val u = pmod(xxhash64(col("vec_id"), lit(r)), lit(1000000000L))
          .cast("double") / 1e9
        val picked = scored
          .filter(u < least(lit(1.0), lit(l.toDouble) * col("d2") / lit(total)))
          .select(col("vec_id"), col("embedding"))
          .as[(Long, Seq[Float])].collect()
        val known = candidates.map(_._1).toSet
        candidates = candidates ++ picked.filterNot(p => known(p._1))
      }
      scored.unpersist()
    }
    // too few candidates (tiny/degenerate corpora): pad by id-hash order
    // from the FULL corpus, not the sample
    if (candidates.length < nlist) {
      val known = candidates.map(_._1).toSet
      val pad = full.withColumn("h", xxhash64(col("vec_id")))
        .orderBy(col("h"), col("vec_id")).limit(nlist + candidates.length)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect()
        .filterNot(p => known(p._1)).take(nlist - candidates.length)
      candidates = candidates ++ pad
    }

    // weight candidates by the population they attract (one scalar agg)
    val candArr = candidates.map(_._2.toArray).toArray
    val weights = vecs
      .withColumn("nc", VectorExprs.nearestCentroid(col("embedding"), candArr))
      .groupBy(col("nc.cell").as("cell")).agg(count(lit(1)).as("w"))
      .as[(Int, Long)].collect().toMap
    vecs.unpersist()

    // driver-side weighted farthest-point reduction to nlist centers
    val embs = candidates.map(_._2)
    val w = embs.indices.map(i => weights.getOrElse(i, 0L).toDouble max 1.0)
    val firstIdx = w.zipWithIndex.maxBy { case (wi, i) => (wi, -i) }._2
    val selected = scala.collection.mutable.ArrayBuffer(firstIdx)
    val bestSim = Array.tabulate(embs.length)(i => cosSeq(embs(i), embs(firstIdx)))
    while (selected.length < math.min(nlist, embs.length)) {
      val next = embs.indices
        .filterNot(selected.contains)
        .maxBy(i => (w(i) * (1.0 - bestSim(i)) * (1.0 - bestSim(i)), -i))
      selected += next
      embs.indices.foreach { i =>
        val s = cosSeq(embs(i), embs(next))
        if (s > bestSim(i)) bestSim(i) = s
      }
    }
    selected.toArray.map(i => embs(i).toArray)
  }

  /** Deterministic hash-Forgy init: the nlist vectors with the smallest
    * md5-based id hash (graft.text.Md5P61 base, computed with NATIVE
    * expressions — md5/substring/conv — so it is also one SQL fragment in
    * DuckDB), in (hash, vec_id) order. Hash order is a uniform pseudo-
    * random sample of the corpus — the classic Forgy init with a
    * deterministic PRNG — so it does not degenerate on id-sorted corpora
    * the way first-nlist-BY-ID does, and unlike k-means|| it is
    * ANSI-SQL-expressible, which is what gives q38_ivf_build a real
    * DuckDB oracle. k-means|| (initCentroids) stays the production
    * default: on adversarial geometry its seeds are provably spread,
    * which Forgy only achieves in expectation.
    */
  private[vector] def initHashForgy(corpus: DataFrame, nlist: Int): Array[Array[Float]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select(col("vec_id"), col("embedding"))
      .withColumn("h",
        conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10).cast("long"))
      .orderBy(col("h"), col("vec_id"))
      .limit(nlist)
      .select(col("h"), col("vec_id"), col("embedding"))
      .as[(Long, Long, Array[Float])].collect()
      .sortBy(t => (t._1, t._2)).map(_._3)
  }

  /** Train nlist centroids: init + `iters` Lloyd iterations. Only
    * (cell, dim) scalar aggregates and the nlist×dim centroid matrix
    * ever move; corpus vectors are never shuffled or collected.
    */
  def train(corpus: DataFrame, nlist: Int, iters: Int = 2,
            init: (DataFrame, Int) => Array[Array[Float]] = initCentroids(_, _)): DataFrame = {
    val vecs = corpus.select(col("vec_id"), col("embedding"))
    var cents = init(corpus, nlist)
    (0 until iters).foreach(_ => cents = lloydStep(vecs, cents))
    centroidsDf(corpus.sparkSession, cents)
  }

  final case class Index(centroids: DataFrame, lists: DataFrame)

  /** Build the inverted lists: every vector tagged with its cell. */
  def build(corpus: DataFrame, nlist: Int, iters: Int = 2): Index = {
    // a row with a null id or payload is undecodable for an index build —
    // drop at the boundary (the ingest validation rule; nulls are a fact
    // of life in any at-scale corpus and must not abort the build)
    val vecs = corpus
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    // empty corpus → empty index (no centroids, no lists): a well-defined
    // serving state, not a crash — scheduled rebuilds at scale see
    // shards/filters that prune to nothing, and k-means has no seed to
    // draw. The empty-lists plan skips the assignment expression entirely.
    if (vecs.limit(1).collect().isEmpty)
      return Index(centroidsDf(corpus.sparkSession, Array.empty),
        vecs.withColumn("cell", lit(0).cast("int")).limit(0).cache())
    val centroids = train(vecs, nlist, iters)
    val cents = collectCentroids(centroids)
    val lists = assign(vecs, cents)
      .cache()
    Index(centroids, lists)
  }

  /** Search: rank within the nprobe nearest cells only. `query` must have
    * one row with column `qv`.
    *
    * Probe selection is DRIVER math: the query vector (one row) and the
    * centroid matrix (nlist rows) are collected and ranked locally, so the
    * cluster runs exactly ONE job — scan the probed inverted lists, score,
    * TakeOrdered k. The serving shape at any scale: an ANN query should
    * never pay broadcast-exchange rounds to pick 4 cells out of 16.
    */
  def search(index: Index, query: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val spark = index.lists.sparkSession
    import spark.implicits._
    // no query row (empty corpus / filtered-out id) → the empty top-k,
    // mirroring the annLsh guard; same for a searchable-but-empty index
    val qRows = query.select(col("qv")).limit(1).as[Seq[Float]].collect()
    if (qRows.isEmpty)
      return index.lists.select(col("vec_id"), col("cell"),
        lit(null).cast("double").as("cos_sim")).limit(0)
    val qv: Seq[Float] = qRows.head
    val probedCells = index.centroids.select(col("cell"), col("centroid"))
      .as[(Int, Seq[Float])].collect()
      .map { case (cell, c) => (cell, cosSeq(c, qv)) }
      .sortBy { case (cell, qsim) => (-qsim, cell) }
      .take(nprobe).map(_._1).toSeq
    index.lists
      .filter(col("cell").isInCollection(probedCells))
      .withColumn("cos_sim",
        VectorExprs.cosineSim(col("embedding"), typedLit(qv)))
      .select(col("vec_id"), col("cell"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  // ---- persisted index (build once, probe many) ---------------------------

  /** Where the persisted index for this corpus lives — keyed by
    * [[Tables.corpusFingerprint]] so a regenerated corpus rebuilds, and by
    * the build's arithmetic (`v2`: components rounded half away from zero
    * in [[recompute]]) so no index trained by older arithmetic is read.
    */
  def persistedDir(sfDir: String): String = {
    val fp = Tables.corpusFingerprint(s"$sfDir/embeddings.parquet")
    s"${sys.props("java.io.tmpdir")}/graft_ivf_v2_$fp"
  }

  /** Build the index ONCE per corpus and write it as two parquet tables
    * (centroids, inverted lists) — the real system's shape: an ANN index
    * is trained offline and persisted; queries only probe it. Keyed by a
    * corpus fingerprint, so a regenerated corpus triggers a rebuild and a
    * warm one is reused across JVMs (Verify, Bench, tests).
    */
  def ensurePersisted(s: SparkSession, sfDir: String,
                      nlist: Int = 16, iters: Int = 2): String = synchronized {
    val out = persistedDir(sfDir)
    val done = new java.io.File(out, "_GRAFT_INDEX_READY")
    if (!done.exists()) {
      val idx = build(Tables.embeddings(s, sfDir), nlist, iters)
      idx.centroids.write.mode("overwrite").parquet(s"$out/centroids")
      idx.lists.write.mode("overwrite").parquet(s"$out/lists")
      idx.lists.unpersist()
      java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
    }
    out
  }

  /** Load a persisted index for probing. */
  def loadPersisted(s: SparkSession, indexDir: String): Index =
    Index(s.read.parquet(s"$indexDir/centroids"),
          s.read.parquet(s"$indexDir/lists"))

  /** IVF ANN probe over the PERSISTED index, in the index's exact-search
    * configuration, nprobe = nlist: with every list probed the candidate
    * set is the whole corpus, so the result is PROVABLY the brute-force
    * cosine top-k whatever centroids k-means learned (the identity IvfSpec
    * pins) — which makes the probe DuckDB-oracle-checkable bit-exactly.
    * The index itself is built once per corpus by `ensurePersisted` (the
    * q38_ivf_build surface measures that build end-to-end); the probe
    * measures what a serving query actually costs. The approximate regime
    * (nprobe < nlist) has no SQL equivalent (iterative k-means); its
    * recall is spec-pinned in IvfSpec, including an adversarial id-sorted
    * fixture. The k-means `cell` assignment is centroid-dependent, so the
    * dumped columns are the (deterministic) vec_id + cos_sim ranking.
    */
  val qIvf = GraftQuery(
    "q38_ann_ivf",
    (s, dir) => {
      val idx = loadPersisted(s, ensurePersisted(s, dir, nlist = 16, iters = 2))
      val q = Tables.embeddings(s, dir)
        .filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      search(idx, q, k = 20, nprobe = 16)
        .select(col("vec_id"), col("cos_sim"))
    },
    Some(s"""
      WITH q AS (SELECT embedding AS qv FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) embeddings WHERE vec_id = 0)
      SELECT e.vec_id, ${Similarity.duckCosine("e.embedding", "q.qv")} AS cos_sim
      FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) e CROSS JOIN q
      ORDER BY cos_sim DESC, e.vec_id
      LIMIT 20"""))

  /** End-to-end deterministic index build with hash-Forgy init (see
    * initHashForgy): exactly the production Lloyd machinery — assign /
    * quantized-mean recompute / empty-cell carry-over — differing ONLY in
    * the seed rule, run for `iters` rounds then assigned once more. The
    * whole pipeline is ANSI-expressible, so the oracle transliterates it
    * CTE-for-stage and the build is hash-checked end to end (per-cell
    * size + Σvec_id pins the exact final assignment). The k-means|| init
    * that the persisted/serving build uses is the one non-SQL piece; it
    * is pinned by IvfSpec's adversarial-geometry fixture and exercised by
    * q38_ann_ivf's exact-probe oracle.
    */
  def buildDeterministic(corpus: DataFrame, nlist: Int, iters: Int,
                         dims: Int = 64): Index = {
    // drop ragged/short vectors up front, mirroring the oracle's
    // len(embedding) = dims guard — without the pair, a short embedding
    // would NULL-poison DuckDB's fold while NearestCentroid truncates to
    // min length: silent oracle divergence (the PrCurve/Centroids rule)
    val uniform = corpus.filter(size(col("embedding")) === dims)
    val vecs = uniform.select(col("vec_id"), col("embedding"))
    var cents = initHashForgy(uniform, nlist)
    (0 until iters).foreach(_ => cents = lloydStep(vecs, cents))
    Index(centroidsDf(corpus.sparkSession, cents), assign(vecs, cents))
  }

  /** DuckDB transliteration of [[buildDeterministic]] over the 64-dim
    * embeddings fixture: seeds by md5-hash order, `iters` unrolled Lloyd
    * CTE stages (argmax-cosine assignment with hoisted norms — the same
    * sqrt-once-then-multiply shape as [[VectorExprs.NearestCentroid]] —
    * and the mean over ×1e6-rounded components), one final assignment,
    * per-cell count + Σvec_id.
    */
  private def duckIvfBuild(nlist: Int, iters: Int, dims: Int = 64): String = {
    def fold(expr: String) = Similarity.duckFold(expr, dims.toString)
    def norm(v: String) =
      s"sqrt(${fold(s"CAST($v[i] AS DOUBLE) * CAST($v[i] AS DOUBLE)")})"
    def assignStage(k: Int): String =
      s"""cn$k AS (SELECT cell, ${norm("centroid")} AS nc FROM cents$k),
         |asg${k + 1} AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT v.vec_id, v.embedding, c.cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        CASE WHEN vn.nx = 0 OR w.nc = 0 THEN 0.0
         |             ELSE ${fold("CAST(v.embedding[i] AS DOUBLE) * CAST(c.centroid[i] AS DOUBLE)")}
         |                  / (vn.nx * w.nc) END DESC,
         |        c.cell) AS rn
         |    FROM vecs v
         |    JOIN vnorm vn ON v.vec_id = vn.vec_id
         |    CROSS JOIN cents$k c
         |    JOIN cn$k w ON w.cell = c.cell)
         |  WHERE rn = 1)""".stripMargin
    def recomputeStage(k: Int): String =
      s"""upd${k + 1} AS (
         |  SELECT cell, i AS dim,
         |    CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0)
         |                  AS BIGINT)) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE) / 1000000.0 AS m
         |  FROM asg${k + 1} CROSS JOIN range(1, ${dims + 1}) t(i)
         |  GROUP BY cell, i),
         |newc${k + 1} AS (
         |  SELECT cell, list(CAST(m AS FLOAT) ORDER BY dim) AS centroid
         |  FROM upd${k + 1} GROUP BY cell),
         |cents${k + 1} AS (
         |  SELECT c.cell, COALESCE(n.centroid, c.centroid) AS centroid
         |  FROM cents$k c LEFT JOIN newc${k + 1} n ON c.cell = n.cell)""".stripMargin
    val rounds = (0 until iters)
      .map(k => assignStage(k) + ",\n" + recomputeStage(k))
    val stages = (rounds :+ assignStage(iters)).mkString(",\n")
    s"""
      WITH vecs AS (SELECT vec_id, embedding FROM (SELECT * FROM embeddings WHERE NOT coalesce(list_bool_or(list_transform(embedding, __fe -> isnan(__fe) OR isinf(__fe))), FALSE)) embeddings
                    WHERE len(embedding) = $dims),
      vnorm AS (SELECT vec_id, ${norm("embedding")} AS nx FROM vecs),
      seeds AS (
        SELECT vec_id, embedding,
               ${graft.text.Md5P61.duckBase("CAST(vec_id AS VARCHAR)")} AS h
        FROM vecs ORDER BY h, vec_id LIMIT $nlist),
      cents0 AS (
        SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INTEGER) AS cell,
               embedding AS centroid
        FROM seeds),
      $stages
      SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors,
             CAST(sum(vec_id) AS BIGINT) AS vec_id_sum
      FROM asg${iters + 1} GROUP BY cell ORDER BY cell"""
  }

  val qIvfBuild = GraftQuery(
    "q38_ivf_build",
    (s, dir) => {
      val idx = buildDeterministic(Tables.embeddings(s, dir), nlist = 16, iters = 2)
      idx.lists.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vectors"), sum(col("vec_id")).as("vec_id_sum"))
        .orderBy(col("cell"))
    },
    Some(duckIvfBuild(nlist = 16, iters = 2)))

  val queries: Seq[GraftQuery] = Seq(qIvf, qIvfBuild)
}
