package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Block-local pair generation, shared by the engine's similarity
  * self-joins (the framing of "Highly Efficient String Similarity Search
  * and Join over Compressed Indexes", ICDE 2022: a cheap candidate
  * filter, then an exact verify).
  *
  *  - [[capBuckets]]: the hot-bucket drop of the LSH and prefix pair APIs
  *    (q26/q52, q30/q126, q129, the image dup pairs).
  *  - [[triangularSelfPairs]]: the exact bucketed cover of a block's
  *    unordered pairs, so no hot block serializes a pair stage (q30/q126,
  *    q80, q129).
  *  - [[candidates]] / [[pairs]]: the record-linkage name-pair core (q105,
  *    q150, q157) — distinct names per block, in-block self-join, exact
  *    prune, a kernel over distinct name pairs, expansion-free join-back.
  */
object SimJoin {

  /** Drop LSH buckets holding more than `cap` members before a bucket
    * self-join. The pair join is O(bucket²): one hot bucket (boilerplate
    * text, near-constant embeddings) turns a linear candidate pass into a
    * quadratic blow-up at corpus scale. A bucket with >cap members is, at
    * any sane cap, a single massive duplicate cluster — the
    * canonical/cluster APIs (one row per doc) are the right tool for
    * those; the PAIR api caps them.
    *
    * Lazy by construction: a window count over the banding keys, then a
    * filter — NO job runs at plan-build time (an earlier version ran an
    * eager count + cache here, which doubled q26 and made the pair APIs
    * do work during query construction). Both sides of the caller's
    * self-join re-derive this plan from the caller's cached signature
    * frame (explode + window over in-memory blocks — cheap); after the
    * cap filter one side is typically small enough that AQE broadcasts
    * it. Callers wanting drop diagnostics can run the inverse filter
    * (`bucket_n > cap`) as a separate cheap aggregate.
    */
  private[graft] def capBuckets(bandedIn: DataFrame, keys: Seq[String],
                                cap: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    bandedIn
      .withColumn("__bucket_n", count(lit(1)).over(w))
      .filter(col("__bucket_n") <= cap)
      .drop("__bucket_n")
  }

  /** Unordered within-block self-pair expansion with the triangular bucket
    * cover: split each block into g = ⌈n/bucketSize⌉ hash buckets on the
    * id and join on (keys, i, j) bucket pairs with i ≤ j — an exact cover
    * of the unordered in-block pair set (an off-diagonal pair appears
    * exactly once, oriented by bucket; a diagonal one dedupes by id
    * order). A plain keys-only self-join computes a whole block's O(n²)
    * expansion in the one task holding the block, and AQE's byte-based
    * coalescing folds the low-byte/high-CPU exchange further (measured: one
    * 885-doc sf0.1 q129 token was 75% of all raw pairs, 2.5 s in a single
    * task; the q80 cell-keyed dominance join ran a ~50M-pair stage in ONE
    * task at 10× bench scale) — the cover spreads a block over g(g+1)/2
    * independent join keys and pins both exchanges at the session
    * parallelism (REPARTITION_BY_NUM is exempt from coalescing).
    * Output: keys ++ <id,payload>_a ++ <id,payload>_b, one row per
    * unordered pair; orientation is arbitrary, so normalize downstream
    * with least/greatest if the consumer is not symmetric.
    */
  private[graft] def triangularSelfPairs(blocked: DataFrame, keys: Seq[String],
                                         idCol: String, payload: Seq[String],
                                         bucketSize: Int): DataFrame = {
    require(bucketSize >= 1, s"bucketSize must be >= 1, got $bucketSize")
    val w = Window.partitionBy(keys.map(col): _*)
    val sides = idCol +: payload
    val bucketed = blocked
      .withColumn("__g",
        ((count(lit(1)).over(w) + lit(bucketSize - 1)) / lit(bucketSize))
          .cast("int"))
      .withColumn("__b", pmod(xxhash64(col(idCol)), col("__g")).cast("int"))
    val keyCols = keys.map(col)
    val aSide = bucketed.select(keyCols ++ Seq(col("__b").as("__i"),
      explode(sequence(col("__b"), col("__g") - 1)).as("__j")) ++
      sides.map(c => col(c).as(s"${c}_a")): _*)
    val bSide = bucketed.select(keyCols ++ Seq(
      explode(sequence(lit(0), col("__b"))).as("__i"), col("__b").as("__j")) ++
      sides.map(c => col(c).as(s"${c}_b")): _*)
    val p = blocked.sparkSession.sessionState.conf.numShufflePartitions
    val jk = keys ++ Seq("__i", "__j")
    aSide.repartition(p, jk.map(col): _*)
      .join(bSide.repartition(p, jk.map(col): _*), jk)
      .filter(col(s"${idCol}_a") =!= col(s"${idCol}_b"))
      .filter(col("__i") =!= col("__j") ||
        col(s"${idCol}_a") < col(s"${idCol}_b"))
      .drop("__i", "__j")
  }

  /** The record-linkage block keys over `part`: (last name token, brand). */
  val PartKeys: Seq[String] = Seq("blk_tok", "blk_brand")

  /** `part` as the `PartKeys ++ (p_partkey, p_name)` records [[pairs]] takes. */
  def partRecords(part: DataFrame): DataFrame = part.select(
    element_at(split(col("p_name"), " "), -1).as("blk_tok"),
    col("p_brand").as("blk_brand"),
    col("p_partkey"), col("p_name"))

  /** The (id, name) column names of `keys ++ (id, name)` records. */
  private def idAndName(rows: DataFrame, keys: Seq[String]): (String, String) =
    rows.columns.toSeq.diff(keys) match {
      case Seq(id, name) => (id, name)
      case other => throw new IllegalArgumentException(
        s"records must be keys ++ (id, name), got extra columns $other")
    }

  /** Candidate name pairs of `keys ++ (id, name)` records: keys ++
    * (name_a, name_b), both orders plus the diagonal, over each block's
    * DISTINCT names. The distinct-name table is pinned on the block keys:
    * one REPARTITION_BY_NUM exchange serves the distinct and both
    * (co-partitioned) sides of the self-join, and keeps the pair stage at
    * the session parallelism instead of the AQE-coalesced single task its
    * small output bytes would get.
    */
  private[graft] def candidates(rows: DataFrame, keys: Seq[String]): DataFrame = {
    val name = idAndName(rows, keys)._2
    val pnum = rows.sparkSession.sessionState.conf.numShufflePartitions
    val names = rows.select((keys :+ name).map(col): _*)
      .repartition(pnum, keys.map(col): _*)
      .distinct()
    def side(s: String) = names.select(keys.map(col) :+ col(name).as(s"name_$s"): _*)
    side("a").join(side("b"), keys)
  }

  /** Verified record pairs of `keys ++ (id, name)` records: key_a < key_b
    * in one block, names passing `prune`, then `keep` over the kernel
    * `score` (a named column). `prune`, `score` and `keep` are expressions
    * over `name_a`/`name_b`; `keep` may also use the score's name. The
    * result carries key_a, key_b, name_a, name_b, the score and the block
    * keys for the caller's projection.
    *
    * The pair set is keyed by names only: a name pair repeats across
    * blocks (the brands of the seeded and TPC-H part tables) and the
    * kernel is a function of the names, so the score is computed once per
    * distinct pair, above the pair distinct. Catalyst pushes `keep` below
    * that distinct into the block self-join's condition, where it filters
    * the candidates before the distinct's shuffle; the record join-back
    * never runs the kernel.
    *
    * The join-back never expands a × b on the block key (Σ block_rows²
    * rows, 202 M at sf10): the a-side records probe the surviving pairs
    * by name first, and the b side re-attaches on keys ++ name_b, an
    * equi-join over O(|rows|) rows. So a pair verified in one block links
    * records only where both names sit under equal keys — a key that is
    * a function of the name (q157's sub-block) stays block-local.
    */
  def pairs(rows: DataFrame, keys: Seq[String], prune: Column, score: Column,
            keep: Column): DataFrame = {
    val (id, name) = idAndName(rows, keys)
    val verified = candidates(rows, keys)
      .filter(prune)
      .select(col("name_a"), col("name_b")).distinct()
      .select(col("name_a"), col("name_b"), score)
      .filter(keep)
    def side(s: String) = rows.select(keys.map(col) ++
      Seq(col(id).as(s"key_$s"), col(name).as(s"name_$s")): _*)
    side("a").join(verified, Seq("name_a"))
      .join(side("b"), keys :+ "name_b")
      .filter(col("key_a") < col("key_b"))
  }
}
