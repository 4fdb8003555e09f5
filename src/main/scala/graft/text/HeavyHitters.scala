package graft.text

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Frequent-item (heavy-hitter) detection at corpus scale: a Misra-Gries
  * summary finds the CANDIDATE set in one pass with an O(k) buffer, then an
  * exact count restricted to those candidates confirms — the sketch-then-
  * verify shape. The shuffle after the sketch carries only candidate tokens
  * (≤ k per partition), never the full vocabulary; on web-scale text the
  * vocabulary is unbounded, so the full token groupBy that a direct
  * top-frequency query needs is exactly what this avoids paying twice.
  *
  * Reference behavior: per-key frequency tallies (groupby-size counts,
  * /root/reference/wrm_pipeline/wrm_pipeline/assets/stations/enhanced_all.py:132)
  * over a bounded key domain; the sketch form is what the same screen needs
  * when the key domain is unbounded vocabulary (Misra & Gries 1982; merge
  * rule per Agarwal et al., "Mergeable Summaries", PODS 2012).
  */
object HeavyHitters {

  /** Misra-Gries frequent-items summary over token ARRAYS (one update per
    * document — no explode inflation on the sketch pass). Buffer holds at
    * most k (token, counter) pairs:
    *
    *  - token present → counter += 1
    *  - absent, buffer not full → insert with counter 1
    *  - absent, buffer full → ALL counters −= 1, drop zeros (the classic
    *    amortized-O(1) eviction: each decrement cancels one increment)
    *
    * Merge (partial aggregation works — the driver-visible buffer is one
    * summary per partition, not per row): sum counters pairwise, then if
    * more than k survive, subtract the (k+1)-th largest counter from all
    * and drop non-positives — the Agarwal et al. rule, which preserves the
    * guarantee: any token with true count > n/(k+1) is IN the summary,
    * whatever the merge order. Counts in the summary are lower bounds and
    * merge-order-dependent, so `eval` returns only the candidate token
    * set (sorted for a stable dump); the exact pass downstream restores
    * determinism.
    */
  case class MisraGriesAgg(
      child: Expression, k: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[java.util.HashMap[String, java.lang.Long]]
      with UnaryLike[Expression] {
    require(k >= 1, s"graft_misra_gries capacity k must be >= 1, got $k")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = false
    override def createAggregationBuffer(): java.util.HashMap[String, java.lang.Long] =
      new java.util.HashMap[String, java.lang.Long]()

    private def offer(buf: java.util.HashMap[String, java.lang.Long], tok: String): Unit = {
      val cur = buf.get(tok)
      if (cur != null) buf.put(tok, cur.longValue + 1L)
      else if (buf.size < k) buf.put(tok, 1L)
      else {
        val it = buf.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.longValue == 1L) it.remove()
          else e.setValue(e.getValue.longValue - 1L)
        }
      }
    }

    override def update(buf: java.util.HashMap[String, java.lang.Long],
                        input: InternalRow): java.util.HashMap[String, java.lang.Long] = {
      val toks = child.eval(input)
      if (toks != null) {
        val arr = toks.asInstanceOf[ArrayData]
        var i = 0
        while (i < arr.numElements()) {
          offer(buf, arr.getUTF8String(i).toString)
          i += 1
        }
      }
      buf
    }

    override def merge(b1: java.util.HashMap[String, java.lang.Long],
                       b2: java.util.HashMap[String, java.lang.Long]): java.util.HashMap[String, java.lang.Long] = {
      b2.forEach { (tok, c) =>
        val cur = b1.get(tok)
        b1.put(tok, if (cur == null) c else java.lang.Long.valueOf(cur.longValue + c.longValue))
      }
      if (b1.size > k) {
        // subtract the (k+1)-th largest counter from every counter
        val vals = new Array[Long](b1.size)
        var i = 0
        b1.forEach { (_, c) => vals(i) = c.longValue; i += 1 }
        java.util.Arrays.sort(vals)
        val cut = vals(vals.length - k - 1)
        val it = b1.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.longValue <= cut) it.remove()
          else e.setValue(e.getValue.longValue - cut)
        }
      }
      b1
    }

    override def eval(buf: java.util.HashMap[String, java.lang.Long]): Any = {
      val keys = new Array[String](buf.size)
      var i = 0
      buf.forEach { (tok, _) => keys(i) = tok; i += 1 }
      java.util.Arrays.sort(keys, java.util.Comparator.naturalOrder[String]())
      new GenericArrayData(keys.map(UTF8String.fromString))
    }

    override def serialize(buf: java.util.HashMap[String, java.lang.Long]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeInt(buf.size)
      buf.forEach { (tok, c) => out.writeUTF(tok); out.writeLong(c.longValue) }
      out.flush()
      bos.toByteArray
    }
    override def deserialize(bytes: Array[Byte]): java.util.HashMap[String, java.lang.Long] = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val n = in.readInt()
      val m = new java.util.HashMap[String, java.lang.Long](n * 2)
      var i = 0
      while (i < n) { m.put(in.readUTF(), in.readLong()); i += 1 }
      m
    }

    override def withNewMutableAggBufferOffset(o: Int): MisraGriesAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): MisraGriesAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): MisraGriesAgg =
      copy(child = c)
  }

  /** The sketch as a Column aggregate (same bridge route as
    * [[TextExprs.minhashSketchAgg]]).
    */
  def misraGries(tokens: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      MisraGriesAgg(ColumnBridge.expression(tokens), k).toAggregateExpression())
  }

  /** Tokens whose exact count exceeds n/(k+1): sketch pass → bounded
    * driver collect (≤ k candidate strings + one total, the whitelisted
    * 1-row scalar shape) → exact count of candidates only. The candidate
    * `isin` filter reaches the scan as an In predicate, so the verify
    * shuffle carries ≤ k distinct keys per partition regardless of
    * vocabulary size. The threshold compare is all-integer
    * (cnt·(k+1) > n), so the kept set is bit-deterministic even though
    * the sketch's internal counters are merge-order-dependent — the MG
    * guarantee says every above-threshold token survives to the candidate
    * set, and the exact filter removes any below-threshold survivor.
    */
  def heavyHitters(docs: DataFrame, k: Int): DataFrame = {
    val toks = docs.select(TextAnalysis.tokens(col("text")).as("toks"))
    // coalesce: SUM over zero rows is NULL, and an empty candidate set is
    // a legal sketch result (empty corpus) — both must mean "no heavy
    // hitters", not a null-decode crash
    val row = toks.agg(misraGries(col("toks"), k).as("cand"),
      coalesce(sum(size(col("toks"))), lit(0L)).as("n")).head()
    val cand: Seq[String] = Option(row.getSeq[String](0)).getOrElse(Seq.empty)
    val n = row.getLong(1)
    toks.select(explode(col("toks")).as("token"))
      .filter(if (cand.isEmpty) lit(false) else col("token").isInCollection(cand))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (k + 1) > n)
      .orderBy(col("cnt").desc, col("token"))
  }

  // ---- queries -------------------------------------------------------------

  val qHeavyHitters = GraftQuery(
    "q117_heavy_hitters",
    (s, dir) => heavyHitters(Tables.documents(s, dir), k = 32),
    Some("""
      WITH tok AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents),
      cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
      tot AS (SELECT sum(c) AS n FROM cnt)
      SELECT token, CAST(c AS BIGINT) AS cnt
      FROM cnt, tot
      WHERE c * 33 > n
      ORDER BY cnt DESC, token"""))

  val queries: Seq[GraftQuery] = Seq(qHeavyHitters)
}
