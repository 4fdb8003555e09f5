package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.typedLit
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot text-dedup kernels.
  *
  * The composable `transform`/`aggregate` higher-order-function forms are
  * semantically right but evaluate their lambdas interpreted, per element —
  * at corpus scale the per-element overhead dominates. Each expression here
  * is one eval call per row running a tight Scala loop over the array data
  * (CodegenFallback wraps the row call; the loop itself is JIT-compiled
  * JVM code, not interpreted Catalyst).
  *
  * Hashing uses XxHash64Function (seed 42) — the same function behind the
  * built-in `xxhash64()`, so results stay consistent with expression-level
  * equivalents and are deterministic across partitionings.
  *
  * The Column wrappers at the bottom bind each expression directly through
  * [[org.apache.spark.sql.graftbridge.ColumnBridge]], like every other
  * custom expression in the engine; they need no session and register
  * nothing. The `graft_*` SQL names come only from [[graft.GraftExtensions]],
  * which injects them when a session is built.
  */
object TextExprs {

  /** Validate a kernel hash-mode string — exactly "xx" or "md5". A typo
    * ("MD5", "md-5") would otherwise silently select xxhash64 and every
    * downstream row would mismatch an md5-mode oracle with nothing
    * pointing at the cause.
    */
  private[graft] def isMd5Mode(hashMode: String): Boolean = hashMode match {
    case "md5" => true
    case "xx" => false
    case other => throw new IllegalArgumentException(
      s"""hashMode must be "xx" or "md5", got: "$other"""")
  }

  /** SimHash fingerprint width for a hash mode (60 in md5 mode — 15 hex
    * chars carry exactly 60 bits; 64 in xx mode). The single source of
    * truth for band-boundary math in [[TextDedup.simhashDupPairs]] and
    * its oracle.
    */
  private[graft] def simhashBits(hashMode: String): Int =
    if (isMd5Mode(hashMode)) 60 else 64

  /** Distinct space-joined token n-grams from a token array. */
  case class TokenShingles(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(tokens: Any): Any = {
      val arr = tokens.asInstanceOf[ArrayData]
      val cnt = arr.numElements() - (n - 1)
      if (cnt <= 0) return new GenericArrayData(Array.empty[Any])
      val seen = new java.util.LinkedHashSet[UTF8String]()
      val space = UTF8String.fromString(" ")
      var i = 0
      while (i < cnt) {
        val parts = new Array[UTF8String](n)
        var k = 0
        while (k < n) { parts(k) = arr.getUTF8String(i + k); k += 1 }
        seen.add(UTF8String.concatWs(space, parts: _*))
        i += 1
      }
      new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size)))
    }
    override protected def withNewChildInternal(c: Expression): TokenShingles = copy(child = c)
  }

  /** k-family MinHash signature over a string array: one string hash per
    * element, k cheap long re-hashes folded into running minima.
    *
    * `hashMode` "xx" (default): xxhash64 base + xxhash64 rehash — the
    * scale path. "md5": [[Md5P61]] base + Mersenne-mod rehash, bit-equal
    * to a DuckDB transliteration so md5-mode queries get real oracle rows.
    */
  case class MinHashSignature(child: Expression, k: Int, hashMode: String = "xx")
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    private val useMd5 = TextExprs.isMd5Mode(hashMode)
    @transient private lazy val famA: Array[Long] = Array.tabulate(k)(Md5P61.familyA)
    @transient private lazy val famB: Array[Long] = Array.tabulate(k)(Md5P61.familyB)
    override def nullSafeEval(shingles: Any): Any = {
      val arr = shingles.asInstanceOf[ArrayData]
      val mins = Array.fill(k)(Long.MaxValue)
      var i = 0
      while (i < arr.numElements()) {
        if (useMd5) {
          val base = Md5P61.base(arr.getUTF8String(i))
          var f = 0
          while (f < k) {
            val h = Md5P61.mulAddMod(base, famA(f), famB(f))
            if (h < mins(f)) mins(f) = h
            f += 1
          }
        } else {
          val base = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
          var f = 0
          while (f < k) {
            val h = XxHash64Function.hash(base, LongType, f.toLong)
            if (h < mins(f)) mins(f) = h
            f += 1
          }
        }
        i += 1
      }
      new GenericArrayData(mins)
    }
    override protected def withNewChildInternal(c: Expression): MinHashSignature = copy(child = c)
  }

  /** SimHash over a token array: majority vote per bit of the per-token
    * hash. "xx" mode: 64-bit xxhash64 fingerprint (scale default);
    * "md5" mode: 60-bit [[Md5P61]] fingerprint (DuckDB-expressible —
    * 15 hex chars carry exactly 60 bits).
    */
  case class SimHash64(child: Expression, hashMode: String = "xx")
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    private val useMd5 = TextExprs.isMd5Mode(hashMode)
    /** Fingerprint width: 60 in md5 mode, 64 in xx mode. */
    val bits: Int = TextExprs.simhashBits(hashMode)
    override def nullSafeEval(tokens: Any): Any = {
      val arr = tokens.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val nBits = bits
      val votes = new Array[Int](nBits)
      var i = 0
      while (i < n) {
        val h =
          if (useMd5) Md5P61.base(arr.getUTF8String(i))
          else XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
        var b = 0
        while (b < nBits) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1
          b += 1
        }
        i += 1
      }
      var out = 0L
      var b = 0
      while (b < nBits) {
        if (votes(b) * 2 >= n) out |= (1L << b)
        b += 1
      }
      java.lang.Long.valueOf(out)
    }
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  }

  /** Count of array elements contained in a foldable string-set argument —
    * the codegen-tight form of `size(filter(tokens, w => w.isin(words)))`,
    * whose lambda evaluates interpreted per element. One HashSet probe per
    * token instead of an interpreted |words|-way In expression.
    */
  case class TokenSetCount(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = IntegerType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (!right.foldable)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "graft_token_set_count requires a literal (foldable) word array " +
            "as its second argument")
      else super.checkInputDataTypes()
    @transient private lazy val wordSet: java.util.HashSet[UTF8String] = {
      val arr = right.eval(InternalRow.empty).asInstanceOf[ArrayData]
      val s = new java.util.HashSet[UTF8String]()
      var i = 0
      while (i < arr.numElements()) { s.add(arr.getUTF8String(i)); i += 1 }
      s
    }
    override def nullSafeEval(tokens: Any, ignored: Any): Any = {
      val arr = tokens.asInstanceOf[ArrayData]
      var c = 0
      var i = 0
      while (i < arr.numElements()) {
        if (wordSet.contains(arr.getUTF8String(i))) c += 1
        i += 1
      }
      java.lang.Integer.valueOf(c)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): TokenSetCount =
      copy(left = l, right = r)
  }

  /** Group-level MinHash sketch: a custom TypedImperativeAggregate whose
    * buffer is the element-wise MIN of the group's per-document signature
    * arrays — i.e. the MinHash signature of the UNION of the group's
    * shingle sets, so two group sketches estimate the Jaccard similarity
    * BETWEEN groups (sources, partitions, days) the same way per-doc
    * signatures do between documents.
    *
    * The composable form — posexplode(sig) → groupBy(key, pos) → min →
    * collect/sort — computes the identical result (differential spec) but
    * inflates the map side k× with (key, pos, value) rows; this aggregate
    * keeps ONE k-long buffer per group per partition and merges buffers,
    * the classic sketch-aggregation shape (partial aggregation works —
    * min is associative/commutative — so the shuffle carries one sketch
    * per group per partition).
    */
  case class MinHashSketch(
      child: Expression, k: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Long]]
      with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def createAggregationBuffer(): Array[Long] = Array.fill(k)(Long.MaxValue)
    override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
      val sig = child.eval(input)
      if (sig != null) {
        val arr = sig.asInstanceOf[ArrayData]
        val n = math.min(k, arr.numElements())
        var i = 0
        while (i < n) {
          val v = arr.getLong(i)
          if (v < buf(i)) buf(i) = v
          i += 1
        }
      }
      buf
    }
    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      var i = 0
      while (i < k) { if (b2(i) < b1(i)) b1(i) = b2(i); i += 1 }
      b1
    }
    override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)
    override def serialize(buf: Array[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 * k)
      buf.foreach(bb.putLong)
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      Array.fill(k)(bb.getLong())
    }
    override def withNewMutableAggBufferOffset(o: Int): MinHashSketch =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): MinHashSketch =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): MinHashSketch =
      copy(child = c)
  }

  /** Per-position token-window hashes: output element i is a hash of the
    * n-token window starting at token i (length(tokens) − n + 1 elements;
    * empty when the doc is shorter than n). The substring-dedup kernel —
    * downstream shuffles these 8-byte longs keyed by hash, never gram
    * text, so shuffle volume is O(tokens), independent of n.
    *
    * Rolling polynomial over per-token xxhash64 values in wrapping 2^64
    * arithmetic: h(i+1) = (h(i) − t_i·B^(n−1))·B + t_{i+n−1}, so total
    * work is O(tokens), not O(tokens·n) — no gram strings are ever
    * materialized. Collisions (two distinct n-grams sharing a hash) are
    * birthday-bounded at ~(windows²/2^64); substring dedup tolerates
    * that the same way MinHash banding does.
    */
  case class GramWindowHashes(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    require(n >= 1,
      s"graft_gram_hashes window width n must be >= 1, got $n")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(tokens: Any): Any = {
      val arr = tokens.asInstanceOf[ArrayData]
      val len = arr.numElements()
      val cnt = len - (n - 1)
      if (cnt <= 0) return new GenericArrayData(Array.empty[Any])
      val B = 0x100000001b3L // odd base → multiplication is invertible mod 2^64
      val th = new Array[Long](len)
      var i = 0
      while (i < len) {
        th(i) = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
        i += 1
      }
      var bn = 1L // B^(n-1)
      var k = 1
      while (k < n) { bn *= B; k += 1 }
      val out = new Array[Any](cnt)
      var h = 0L
      i = 0
      while (i < n) { h = h * B + th(i); i += 1 }
      out(0) = java.lang.Long.valueOf(h)
      i = 1
      while (i < cnt) {
        h = (h - th(i - 1) * bn) * B + th(i + n - 1)
        out(i) = java.lang.Long.valueOf(h)
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): GramWindowHashes =
      copy(child = c)
  }

  /** Polynomial rolling hash h = Σ (h*31 + codepoint) mod 1e9+7, one tight
    * loop per row — replaces the per-character `aggregate` HOF (interpreted
    * lambda per char). Codepoint iteration matches `ascii()` on
    * single-character splits for all BMP text.
    */
  case class FingerprintHash(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(text: Any): Any = {
      val s = text.asInstanceOf[UTF8String].toString
      var h = 0L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        h = Math.floorMod(h * 31L + cp, 1000000007L)
        i += Character.charCount(cp)
      }
      java.lang.Long.valueOf(h)
    }
    override protected def withNewChildInternal(c: Expression): FingerprintHash = copy(child = c)
  }

  /** Evaluate a function argument that must be a literal int (shingle
    * width, hash count, plane count). Builders run at analysis time, so a
    * non-foldable argument fails analysis with a named error instead of an
    * opaque ClassCastException/NPE at execution.
    */
  private[graft] def intLiteral(fn: String, e: Expression): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn requires a literal integer argument, got non-foldable: ${e.sql}")
    e.eval(InternalRow.empty) match {
      case i: java.lang.Integer => i.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn requires a literal INT argument, got: $other")
    }
  }

  /** Evaluate a function argument that must be a literal string (hash
    * mode). Same analysis-time contract as [[intLiteral]].
    */
  private[graft] def strLiteral(fn: String, e: Expression, default: String): String =
    if (e == null) default
    else {
      if (!e.foldable)
        throw new IllegalArgumentException(
          s"$fn requires a literal string argument, got non-foldable: ${e.sql}")
      e.eval(InternalRow.empty) match {
        case s: UTF8String => s.toString
        case other => throw new IllegalArgumentException(
          s"$fn requires a literal STRING argument, got: $other")
      }
    }

  /** Group-level sketch aggregate as a Column. */
  def minhashSketchAgg(sig: Column, k: Int): Column =
    ColumnBridge.column(
      MinHashSketch(ColumnBridge.expression(sig), k).toAggregateExpression())

  def tokenShingles(tokens: Column, n: Int): Column =
    ColumnBridge.column(TokenShingles(ColumnBridge.expression(tokens), n))

  def minhashSig(shingles: Column, k: Int, hashMode: String = "xx"): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(shingles), k, hashMode))

  def simhash64(tokens: Column, hashMode: String = "xx"): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokens), hashMode))

  def tokenSetCount(tokens: Column, words: Seq[String]): Column =
    ColumnBridge.column(TokenSetCount(ColumnBridge.expression(tokens),
      ColumnBridge.expression(typedLit(words))))

  def fingerprintHash(text: Column): Column =
    ColumnBridge.column(FingerprintHash(ColumnBridge.expression(text)))

  def gramWindowHashes(tokens: Column, n: Int): Column =
    ColumnBridge.column(GramWindowHashes(ColumnBridge.expression(tokens), n))
}
