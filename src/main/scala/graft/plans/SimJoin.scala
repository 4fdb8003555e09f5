package graft.plans

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Block-local pair generation, shared by the engine's similarity
  * self-joins (the framing of "Highly Efficient String Similarity Search
  * and Join over Compressed Indexes", ICDE 2022: one shared candidate
  * front end, then an exact verify per variant).
  *
  *  - [[blockPairs]]: the capped, bucketed in-block pair front end of the
  *    LSH, prefix and dominance pair APIs — MinHash (q26), hamming bands
  *    (q52, the q71 image dup pairs), embedding buckets (q30/q126), prefix
  *    tokens (q129) and SemDedup's cells (q80). Each caller keeps only its
  *    verify step (and its own distinct where one pair can share several
  *    blocks).
  *  - [[candidates]] / [[pairs]]: the record-linkage name-pair core (q105,
  *    q150, q157) — distinct names per block, in-block self-join, exact
  *    prune, a kernel over distinct name pairs, expansion-free join-back.
  */
object SimJoin {

  /** Target members per cover bucket: a block of n members splits into
    * ⌈n/BucketSize⌉ id-hash buckets.
    */
  private val BucketSize = 250

  /** Every unordered pair of distinct ids within one block of `keys`, over
    * the blocks of at most `maxBlock` members. Output: keys ++
    * <id,payload>_a ++ <id,payload>_b, one row per pair, with
    * `<id>_a < <id>_b` and each payload column on its own id's side.
    *
    * One window counts each block once, and the count does two things:
    *  - it drops every block over `maxBlock` whole, before any pairing.
    *    The pair join is O(block²): one hot LSH bucket (boilerplate text,
    *    near-constant embeddings) turns a linear candidate pass into a
    *    quadratic blow-up, and such a bucket is one massive duplicate
    *    cluster that the canonical/cluster APIs (one row per doc) serve.
    *    The oracles drop it the same way. `Int.MaxValue` drops nothing.
    *  - it splits each kept block into g = ⌈n/BucketSize⌉ hash buckets on
    *    the id. The join on (keys, i, j) bucket pairs with i ≤ j is an
    *    exact cover of the block's unordered pairs: an off-diagonal pair
    *    meets once, a diagonal one dedupes by id order. A plain keys-only
    *    self-join computes a whole block's expansion in the one task
    *    holding it, and AQE's byte-based coalescing folds the
    *    low-byte/high-CPU exchange further (measured: one 885-doc sf0.1
    *    q129 token was 75% of all raw pairs, 2.5 s in a single task; the
    *    q80 cell-keyed dominance join ran a ~50M-pair stage in ONE task at
    *    10× bench scale). The cover spreads a block over g(g+1)/2 join keys
    *    and pins both exchanges ([[graft.Tables.spread]]).
    *
    * Lazy: no job runs while the plan is built.
    */
  private[graft] def blockPairs(blocked: DataFrame, keys: Seq[String], id: String,
                                payload: Seq[String], maxBlock: Int): DataFrame = {
    val sides = id +: payload
    val bucketed = blocked
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("__n") <= maxBlock)
      .withColumn("__g",
        ((col("__n") + lit(BucketSize - 1)) / lit(BucketSize)).cast("int"))
      .withColumn("__b", pmod(xxhash64(col(id)), col("__g")).cast("int"))
    val keyCols = keys.map(col)
    val aSide = bucketed.select(keyCols ++ Seq(col("__b").as("__i"),
      explode(sequence(col("__b"), col("__g") - 1)).as("__j")) ++
      sides.map(c => col(c).as(s"${c}_a")): _*)
    val bSide = bucketed.select(keyCols ++ Seq(
      explode(sequence(lit(0), col("__b"))).as("__i"), col("__b").as("__j")) ++
      sides.map(c => col(c).as(s"${c}_b")): _*)
    val jk = keys ++ Seq("__i", "__j")
    val (idA, idB) = (col(s"${id}_a"), col(s"${id}_b"))
    // an off-diagonal pair meets in bucket order; turn it to id order
    val swap = idA > idB
    def side(s: String, o: String) = sides.map(c =>
      when(swap, col(s"${c}_$o")).otherwise(col(s"${c}_$s")).as(s"${c}_$s"))
    Tables.spread(aSide, jk.map(col): _*)
      .join(Tables.spread(bSide, jk.map(col): _*), jk)
      .filter(idA =!= idB)
      .filter(col("__i") =!= col("__j") || idA < idB)
      .select(keyCols ++ side("a", "b") ++ side("b", "a"): _*)
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
    val names = Tables.spread(rows.select((keys :+ name).map(col): _*),
      keys.map(col): _*).distinct()
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
